package graft.etl

import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import org.apache.spark.sql.functions.lit

import graft.SparkSpec

/** The FUSED pipeline across a restart: file arrival → transform chain →
  * Derby JDBC append + archive, as one streaming query
  * ([[Pipeline.startJdbcLoadStream]]) — composing the JdbcSinkSpec sink
  * face with the PipelineSpec file-source face, the way the reference runs
  * extract→transform→load as one logical flow (scripts/dag.py:45-69 +
  * load_db.py:49-58).
  *
  * The exactly-once claim is proven twice over:
  *   1. across a RESTART — a second query on the same checkpoint must not
  *      re-process the file the first run already loaded;
  *   2. across a micro-batch REPLAY — re-running a batch's sink action
  *      with the same batchId (what foreachBatch does after a crash
  *      between the JDBC append and the offset commit) must leave the
  *      table unchanged (delete-then-append keyed by batch_id).
  *
  * A restarted leg must also reuse the generated code of the previous run:
  * the daily cadence restarts the query every day.
  */
class StreamingJdbcSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graft_stream_jdbc;create=true"

  // linkB's design is a quoted value spanning two lines: the stream source
  // must read it as one record (multiLine), as readRaw does
  private def rawTsv(linkA: String, linkB: String): String =
    "purpose\taddress\tsize_m2\tdesign\tprice_czk\tlink\n" +
      s"Prodej bytu\tVinohradska 12, Praha\t80 m2\t3+1\t5 000 000 Kc\t$linkA\n" +
      s"Pronajem bytu\tNamesti Svobody 5, Brno, Jihomoravsky kraj\t100 m2\t\"2+kk\nbalkon\"\t900 Kc\t$linkB\n"

  private def tableLinks(table: String): Seq[String] = {
    val back = spark.read.jdbc(url, table, new java.util.Properties())
    back.select("link").collect().map(_.getString(0)).toSeq.sorted
  }

  /** link → value of column `c`, over the whole table. */
  private def byLink(table: String, c: String): Map[String, String] =
    spark.read.jdbc(url, table, new java.util.Properties())
      .select("link", c).collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("fused stream → Derby: exactly-once across restart and batch replay") {
    val root = Files.createTempDirectory("graft_sjdbc").toString
    Files.createDirectories(Paths.get(s"$root/raw"))
    val table = "properties_stream"

    // run 1: one file arrives, the AvailableNow drain loads it
    Files.writeString(Paths.get(s"$root/raw/raw_properties_1.csv"),
      rawTsv("/a", "/k"))
    val q1 = Pipeline.startJdbcLoadStream(spark, s"$root/raw", url, table,
      s"$root/archive", s"$root/ckpt", dumpDate = "2026_08_12_080000")
    q1.awaitTermination(120000)
    assert(tableLinks(table) == Seq("/a", "/k"))
    assert(byLink(table, "design") == Map("/a" -> "3+1", "/k" -> "2+kk\nbalkon"))

    // run 2: a new file arrives; a NEW query on the SAME checkpoint must
    // load only it — file 1 is consumed state, not re-read, so its rows
    // appear exactly once even though the stream restarted
    Files.writeString(Paths.get(s"$root/raw/raw_properties_2.csv"),
      rawTsv("/b", "/m"))
    val q2 = Pipeline.startJdbcLoadStream(spark, s"$root/raw", url, table,
      s"$root/archive", s"$root/ckpt", dumpDate = "2026_08_13_080000")
    q2.awaitTermination(120000)
    assert(tableLinks(table) == Seq("/a", "/b", "/k", "/m"))

    // the restart also archived run 1's file under the processed_ rename
    // (Spark archives batch N's source when batch N+1 starts)
    assert(!Files.exists(Paths.get(s"$root/raw/raw_properties_1.csv")))

    // batch REPLAY: re-run file 2's sink action with its batchId, exactly
    // what foreachBatch does after a crash between append and offset
    // commit. batch_id identifies the batch: fetch it from the table.
    val back = spark.read.jdbc(url, table, new java.util.Properties())
    val b2 = back.filter(org.apache.spark.sql.functions.col("link") === "/b")
      .select("batch_id").collect().head.getLong(0)
    val replayed = Transform(
      Pipeline.readRaw(spark, s"$root/raw"), "2026_08_13_080000")
    // the raw dir still holds file 2 (archived on the NEXT run's start)
    assert(replayed.count() == 2L)
    Pipeline.jdbcIdempotentAppend(replayed, url, table, b2)
    assert(tableLinks(table) == Seq("/a", "/b", "/k", "/m"),
      "replaying a committed batch must not duplicate its rows")

    // the replay really exercised the delete path: the batch is present
    // exactly once, with its batch_id intact
    val n2 = spark.read.jdbc(url, table, new java.util.Properties())
      .filter(org.apache.spark.sql.functions.col("batch_id") === b2).count()
    assert(n2 == 2L)

    // per-row lineage survives the stream, the restart and the replay
    assert(byLink(table, "file_name") == Map(
      "/a" -> "raw_properties_1.csv", "/k" -> "raw_properties_1.csv",
      "/b" -> "raw_properties_2.csv", "/m" -> "raw_properties_2.csv"))
  }

  test("a restarted load stream compiles no new code") {
    val root = Files.createTempDirectory("graft_sjdbc_codegen").toString
    Files.createDirectories(Paths.get(s"$root/raw"))
    val table = "properties_restart"
    def land(n: Int): Unit =
      Files.writeString(Paths.get(s"$root/raw/raw_properties_$n.csv"),
        rawTsv(s"/r$n", s"/s$n"))
    def run(dumpDate: String): Unit =
      Pipeline.startJdbcLoadStream(spark, s"$root/raw", url, table,
        s"$root/archive", s"$root/ckpt", dumpDate).awaitTermination(120000)

    // run 1 compiles what a micro-batch needs; run 2 is a new query on the
    // same checkpoint with new files, batch ids and dump date, like the
    // next day's run, and must reuse all of it
    land(1); land(2)
    run("2026_08_12_080000")
    land(3); land(4)
    val compiled = classesCompiledBy(run("2026_08_13_080000"))
    assert(compiled == 0L, s"the restarted stream compiled $compiled classes")

    // each run's two files were two micro-batches, every row keeps its file
    assert(byLink(table, "file_name") == (1 to 4).flatMap(n =>
      Seq(s"/r$n", s"/s$n").map(_ -> s"raw_properties_$n.csv")).toMap)
    val batches = spark.read.jdbc(url, table, new java.util.Properties())
      .select("batch_id").distinct().count()
    assert(batches == 4L)
  }

  test("jdbcIdempotentAppend: distinct batch ids accumulate, same id replaces") {
    val table = "properties_batches"
    Pipeline.jdbcIdempotentAppend(mk("/x1"), url, table, batchId = 0L)
    Pipeline.jdbcIdempotentAppend(mk("/x2", "/x3"), url, table, batchId = 1L)
    Pipeline.jdbcIdempotentAppend(mk("/x5"), url, table, batchId = 2L)
    assert(tableLinks(table) == Seq("/x1", "/x2", "/x3", "/x5"))
    // same id replaces (crash-replay with DIFFERENT surviving rows —
    // the delete must clear the stale half-write, not just dedup); the
    // batches before and after the replayed one keep their rows
    Pipeline.jdbcIdempotentAppend(mk("/x2"), url, table, batchId = 1L)
    assert(tableLinks(table) == Seq("/x1", "/x2", "/x5"))
    // a NULL string (an empty `design` cell) must not fail the batch
    Pipeline.jdbcIdempotentAppend(
      mk("/x4").withColumn("design", lit(null).cast("string")), url, table,
      batchId = 3L)
    assert(tableLinks(table) == Seq("/x1", "/x2", "/x4", "/x5"))
    assert(byLink(table, "design")("/x4") == null)
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"""SELECT count(*) FROM $table WHERE "batch_id" = 1""")
      rs.next()
      assert(rs.getInt(1) == 1)
      // the table the sink created keys its rows by a BIGINT NOT NULL id
      val c = conn.getMetaData.getColumns(null, null, table.toUpperCase, "batch_id")
      assert(c.next())
      assert(c.getString("TYPE_NAME") == "BIGINT")
      assert(c.getInt("NULLABLE") == java.sql.DatabaseMetaData.columnNoNulls)
      assert(batchIdIndexed(conn, table))
    } finally conn.close()
  }

  test("jdbcIdempotentAppend indexes batch_id on a table made without it") {
    val table = "properties_unindexed"
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        s"""CREATE TABLE $table ("purpose" VARCHAR(255),
           |"address" VARCHAR(255), "region" VARCHAR(255),
           |"size_m2" INTEGER NOT NULL, "design" VARCHAR(255),
           |"price_czk" BIGINT NOT NULL, "price_per_m2" INTEGER,
           |"link" VARCHAR(255), "dump_date" VARCHAR(255),
           |"file_name" VARCHAR(255), "batch_id" BIGINT NOT NULL)""".stripMargin)
      assert(!batchIdIndexed(conn, table))
      Pipeline.jdbcIdempotentAppend(mk("/u1"), url, table, batchId = 7L)
      assert(batchIdIndexed(conn, table))
      assert(tableLinks(table) == Seq("/u1"))
    } finally conn.close()
  }

  /** One transformed row per link (a raw row that passes every rule). */
  private def mk(links: String*) = {
    import spark.implicits._
    val raw = links.map(l =>
      ("Prodej bytu", "Vinohradska 12, Praha", "80 m2", "3+1",
        "5 000 000 Kc", l))
      .toDF("purpose", "address", "size_m2", "design", "price_czk", "link")
    Transform(raw, "2026_08_12_080000")
  }

  private def batchIdIndexed(conn: java.sql.Connection, table: String): Boolean = {
    val rs = conn.getMetaData.getIndexInfo(null, null, table.toUpperCase, false, true)
    try Iterator.continually(rs.next()).takeWhile(identity)
      .exists(_ => rs.getString("COLUMN_NAME") == "batch_id")
    finally rs.close()
  }
}
