package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ScdSpec extends SparkSpec {
  import spark.implicits._

  private def dim = Seq(
    // key, attr, valid_from, valid_to, is_current
    (1L, Option("a"), "2019-01-01", Option.empty[String], true), // will change
    (2L, Option("b"), "2019-01-01", Option.empty[String], true), // no-op update
    (3L, Option("c"), "2019-01-01", Option.empty[String], true), // not in batch
    (4L, Option.empty[String], "2019-01-01", Option.empty[String], true), // NULL → value
    (1L, Option("a0"), "2018-01-01", Option("2019-01-01"), false) // history row
  ).toDF("key", "attr", "valid_from", "valid_to", "is_current")

  private def upd = Seq(
    (1L, Option("a2")), // changed
    (2L, Option("b")), // equal → no-op
    (4L, Option("x")), // NULL → value must version
    (9L, Option("n")) // brand-new key
  ).toDF("key", "attr")

  test("mergeType2 closes changed rows, opens new versions, passes the rest through") {
    val out = Scd.mergeType2(dim, upd, Seq("key"), Seq("attr"), "2024-06-01")
      .as[(Long, Option[String], String, Option[String], Boolean)]
      .collect().sortBy(r => (r._1, r._3))
    assert(out.toSeq == Seq(
      (1L, Option("a0"), "2018-01-01", Option("2019-01-01"), false), // history untouched
      (1L, Option("a"), "2019-01-01", Option("2024-06-01"), false), // closed
      (1L, Option("a2"), "2024-06-01", None, true), // opened
      (2L, Option("b"), "2019-01-01", None, true), // no-op update
      (3L, Option("c"), "2019-01-01", None, true), // un-updated key
      (4L, None, "2019-01-01", Option("2024-06-01"), false), // NULL→value closed
      (4L, Option("x"), "2024-06-01", None, true),
      (9L, Option("n"), "2024-06-01", None, true) // first version of a new key
    ))
  }

  test("mergeType2 is idempotent: re-applying the same batch is a no-op") {
    val once = Scd.mergeType2(dim, upd, Seq("key"), Seq("attr"), "2024-06-01")
    val twice = Scd.mergeType2(once, upd, Seq("key"), Seq("attr"), "2024-07-01")
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
  }

  test("mergeType2 keeps exactly one current row per key") {
    val out = Scd.mergeType2(dim, upd, Seq("key"), Seq("attr"), "2024-06-01")
    val dup = out.filter(col("is_current")).groupBy("key").count()
      .filter(col("count") > 1).count()
    assert(dup == 0L)
  }

  test("startStreamingMerge maintains a versioned SCD2 dimension across update files") {
    val root = java.nio.file.Files.createTempDirectory("graft_scdstream").toString
    val src = s"$root/updates"; val dimDir = s"$root/dim"; val ckpt = s"$root/ckpt"
    val schema = Seq.empty[(Long, String)].toDF("key", "attr").schema

    // batch 0: initial load
    Seq((1L, "a"), (2L, "b")).toDF("key", "attr")
      .coalesce(1).write.mode("append").parquet(src)
    val q1 = Scd.startStreamingMerge(spark, src, schema, dimDir,
      Seq("key"), Seq("attr"), "2024-01-01", ckpt)
    q1.awaitTermination()
    val v1 = Compact.read(spark, dimDir)
      .as[(Long, String, String, Option[String], Boolean)].collect().sortBy(_._1)
    assert(v1.toSeq == Seq(
      (1L, "a", "2024-01-01", None, true),
      (2L, "b", "2024-01-01", None, true)))

    // batch 1 (stream restart): key 1 changes, key 3 appears
    Seq((1L, "a2"), (3L, "c")).toDF("key", "attr")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = Scd.startStreamingMerge(spark, src, schema, dimDir,
      Seq("key"), Seq("attr"), "2024-01-01", ckpt)
    q2.awaitTermination()
    val v2 = Compact.read(spark, dimDir)
      .as[(Long, String, String, Option[String], Boolean)].collect()
      .sortBy(r => (r._1, r._3))
    assert(v2.toSeq == Seq(
      (1L, "a", "2024-01-01", Some("2024-01-02"), false), // closed
      (1L, "a2", "2024-01-02", None, true), // new version
      (2L, "b", "2024-01-01", None, true), // untouched
      (3L, "c", "2024-01-02", None, true))) // first version
    // both dimension versions exist; the marker names the newest
    assert(new java.io.File(s"$dimDir/v=1", "_READY").isFile)
    assert(new java.io.File(s"$dimDir/v=2", "_READY").isFile)
  }

  test("startStreamingMerge: a later batch of one run merges into the version an earlier one published") {
    val root = java.nio.file.Files.createTempDirectory("graft_scdrun").toString
    val src = s"$root/updates"; val dimDir = s"$root/dim"
    val schema = Seq.empty[(Long, String)].toDF("key", "attr").schema
    // two update files drained by ONE run; the second is written later, so
    // it is newer and one-file-per-batch admission takes it second
    Seq((1L, "a"), (2L, "b")).toDF("key", "attr")
      .coalesce(1).write.mode("append").parquet(src)
    Seq((1L, "a2"), (3L, "c")).toDF("key", "attr")
      .coalesce(1).write.mode("append").parquet(src)
    Scd.startStreamingMerge(spark, src, schema, dimDir, Seq("key"),
      Seq("attr"), "2024-01-01", s"$root/ckpt").awaitTermination()

    val out = Compact.read(spark, dimDir)
      .as[(Long, String, String, Option[String], Boolean)].collect()
      .sortBy(r => (r._1, r._3))
    assert(out.toSeq == Seq(
      (1L, "a", "2024-01-01", Some("2024-01-02"), false), // closed
      (1L, "a2", "2024-01-02", None, true),
      (2L, "b", "2024-01-01", None, true),
      (3L, "c", "2024-01-02", None, true))) // opened
    assert(new java.io.File(s"$dimDir/v=1", "_READY").isFile)
    assert(new java.io.File(s"$dimDir/v=2", "_READY").isFile)
  }

  test("a restarted streaming merge compiles no new code") {
    val root = java.nio.file.Files.createTempDirectory("graft_scdcodegen").toString
    val src = s"$root/updates"; val dimDir = s"$root/dim"
    val schema = Seq.empty[(Long, String)].toDF("key", "attr").schema
    // files touch distinct keys, so the result does not depend on which
    // file of a run is admitted first
    def land(rows: (Long, String)*): Unit =
      rows.toDF("key", "attr").coalesce(1).write.mode("append").parquet(src)
    def run(): Unit =
      Scd.startStreamingMerge(spark, src, schema, dimDir, Seq("key"),
        Seq("attr"), "2024-01-01", s"$root/ckpt").awaitTermination()

    // run 1: a bootstrap batch (no dimension yet), then a merge batch
    land((1L, "a"), (2L, "b")); land((3L, "c")); run()
    land((1L, "a2")); land((4L, "d"))
    val compiled = classesCompiledBy(run())
    assert(compiled == 0L, s"the restarted merge compiled $compiled classes")
    val current = Compact.read(spark, dimDir).filter(col("is_current"))
      .select("key", "attr").as[(Long, String)].collect().sorted.toSeq
    assert(current == Seq((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("snapshotDiff classifies added/removed/changed and hides unchanged by default") {
    val oldDf = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("key", "v")
    val newDf = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("key", "v")
    val out = Scd.snapshotDiff(oldDf, newDf, Seq("key"), Seq("v"))
      .select("key", "status", "old_v", "new_v")
      .as[(Long, String, Option[String], Option[String])].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (2L, "changed", Option("b"), Option("B")),
      (3L, "removed", Option("c"), None),
      (4L, "added", None, Option("d"))))
    val full = Scd.snapshotDiff(oldDf, newDf, Seq("key"), Seq("v"),
      includeUnchanged = true)
    assert(full.filter(col("status") === "unchanged").count() == 1L)
  }
}
