package graft
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. An optional
  * third arg restricts the run to the named comma-separated queries
  * (local iteration only — the driver always runs all). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession(GraftSession.envCores(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // Jackson escapes quotes, backslashes and every control char (<0x20):
    // a tab or CR in hand-written SQL would otherwise make the
    // checker's json.load fail and silently zero the round's correctness.
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      new java.io.File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }.asJava)
    spark.stop()
  }
}
