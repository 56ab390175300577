package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the program: Bench, Verify and the test
  * session all start here, so they run the same configuration and differ
  * only in core count and directories.
  */
object GraftSession {
  /** `local[cores]` with one shuffle partition per core, UTC session time,
    * no UI and WARN logging. `warehouseDir` moves catalog writes
    * (`saveAsTable`) out of the working directory.
    */
  def apply(cores: Int, warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
