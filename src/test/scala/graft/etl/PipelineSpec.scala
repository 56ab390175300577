package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Orchestration semantics (SURVEY.md §2.10): TSV sink round-trip, batch
  * run with archive-and-rename, both streaming stages, timestamped keys.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_pipe").toString

  private val rawTsv =
    "purpose\taddress\tsize_m2\tdesign\tprice_czk\tlink\n" +
      "Prodej bytu\tVinohradska 12, Praha\t80 m2\t3+1\t5 000 000 Kc\t/a\n" +
      "Pronajem bytu\tNamesti Svobody 5, Brno, Jihomoravsky kraj\t100 m2\t2+kk\t900 Kc\t/k\n"

  test("writeTsv → readRaw round-trip preserves rows and schema") {
    val dir = tmp()
    val df = Seq(
      ("Prodej bytu", "Vinohradska 12, Praha", "80 m2", "3+1", "5 000 000 Kc", "/a"),
      ("Pronajem bytu", "Brno", "100 m2", "2+kk", "900 Kc", "/k"))
      .toDF("purpose", "address", "size_m2", "design", "price_czk", "link")
    Pipeline.writeTsv(df, s"$dir/out", singleFile = true)
    val back = Pipeline.readRaw(spark, s"$dir/out")
    assert(back.schema == graft.schema.PropertySchema.raw)
    assert(back.orderBy("link").collect().toSeq == df.orderBy("link").collect().toSeq)
  }

  test("writeTsv round-trips values containing tabs, quotes and newlines") {
    val dir = tmp()
    val df = Seq(
      ("Prodej bytu", "addr with\ttab", "80 m2", "de\"sign", "5 000 Kc", "/t1"),
      ("Pronajem bytu", "line\nbreak, Praha", "60 m2", "2+kk", "900 Kc", "/t2"))
      .toDF("purpose", "address", "size_m2", "design", "price_czk", "link")
    Pipeline.writeTsv(df, s"$dir/out", singleFile = true)
    val back = Pipeline.readRaw(spark, s"$dir/out")
    assert(back.orderBy("link").collect().toSeq == df.orderBy("link").collect().toSeq)
  }

  test("runBatch: transform, land parquet, archive inputs with processed_ prefix") {
    val root = tmp()
    Files.createDirectories(Paths.get(s"$root/raw"))
    Files.writeString(Paths.get(s"$root/raw/raw_properties_1.csv"), rawTsv)
    Pipeline.runBatch(spark, s"$root/raw", s"$root/out", s"$root/archive",
      dumpDate = "2026_08_12_080000")
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == 2)
    assert(out.columns.length == 10)
    // input moved to archive under the reference's rename scheme
    assert(!Files.exists(Paths.get(s"$root/raw/raw_properties_1.csv")))
    assert(Files.exists(Paths.get(s"$root/archive/processed_properties_1.csv")))
  }

  test("startStream: file-source stage transforms and archives (stage 1)") {
    val root = tmp()
    Files.createDirectories(Paths.get(s"$root/raw"))
    // two files → two batches (maxFilesPerTrigger=1). Spark archives batch
    // N's source when batch N+1 starts, so after AvailableNow drains, every
    // file but the last is archived (the last goes on the next run).
    Files.writeString(Paths.get(s"$root/raw/raw_properties_2.csv"), rawTsv)
    // distinct links — the transform dedups on link across batches' union
    Files.writeString(Paths.get(s"$root/raw/raw_properties_3.csv"),
      rawTsv.replace("/a", "/b2").replace("/k", "/k2"))
    val q = Pipeline.startStream(spark, s"$root/raw", s"$root/out",
      s"$root/archive", s"$root/ckpt", dumpDate = "2026_08_12_080000")
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == 4)
    // per-row lineage: each row names the file it came from
    assert(out.select("link", "file_name").as[(String, String)].collect().toSet ==
      Set("/a" -> "raw_properties_2.csv", "/k" -> "raw_properties_2.csv",
        "/b2" -> "raw_properties_3.csv", "/k2" -> "raw_properties_3.csv"))
    val remaining = Files.list(Paths.get(s"$root/raw")).toArray
      .map(_.toString).count(_.endsWith(".csv"))
    assert(remaining <= 1, s"expected all but the in-flight file archived, $remaining remain")
  }

  test("two-stage pipeline: transform lands TSV, load stage appends to sink (stage 2)") {
    val root = tmp()
    // stage 1 output as TSV landing (reference's transformed_data/to_process)
    val transformed = Transform(
      Pipeline.readRaw(spark, writeFixture(root)), "2026_08_12_080000")
    Pipeline.writeTsv(transformed, s"$root/landing0", singleFile = true)
    // rename the part file to the reference's transformed_*.csv convention
    val part = Files.list(Paths.get(s"$root/landing0")).toArray
      .map(_.toString).filter(_.endsWith(".csv")).head
    Files.createDirectories(Paths.get(s"$root/landing"))
    Files.copy(Paths.get(part), Paths.get(s"$root/landing/transformed_1.csv"))
    Files.move(Paths.get(part), Paths.get(s"$root/landing/transformed_2.csv"))

    val q = Pipeline.startLoadStream(spark, s"$root/landing", s"$root/db",
      s"$root/archive2", s"$root/ckpt2")
    q.awaitTermination(120000)
    val loaded = spark.read.parquet(s"$root/db")
    assert(loaded.count() == 2 * transformed.count())
    assert(loaded.schema.fieldNames.toSeq ==
      graft.schema.PropertySchema.transformed.fieldNames.toSeq)
    // batch-N source archived when batch N+1 starts; the last file waits
    // for the next run (same semantics as stage 1).
    val remaining = Files.list(Paths.get(s"$root/landing")).toArray
      .map(_.toString).count(_.endsWith(".csv"))
    assert(remaining <= 1)
  }

  test("timestampedKey formats like the reference's object key (dag.py:39)") {
    val at = java.time.Instant.parse("2026-08-12T06:00:00Z")
    // Europe/Prague is UTC+2 in August
    assert(Pipeline.timestampedKey("raw_properties_", at)
      == "raw_properties_2026_08_12_080000.csv")
  }

  private def writeFixture(root: String): String = {
    Files.createDirectories(Paths.get(s"$root/rawfix"))
    Files.writeString(Paths.get(s"$root/rawfix/raw_properties_9.csv"), rawTsv)
    s"$root/rawfix"
  }
}
