package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** Streaming NEAR-dup ingest: MinHash bands propose against the persisted
  * band store, signature agreement confirms, min-id wins in-batch.
  *
  * Unlike IngestSpec and ScdSpec, no case here asserts that a restarted
  * run compiles nothing. When batches hold near-duplicates, a run of this
  * leg compiles about 70 classes, too many for the 100-entry codegen
  * cache of the shared test session, so a restart compiles some of them
  * again. Four AvailableNow runs on one checkpoint, two files per run,
  * each file with a document, its in-batch near-dup and a near-dup of the
  * previous run's document, compiled 71 / 24 / 24 / 12 classes in a fresh
  * test JVM (65 / 55 / 53 / 56 with batches in the query's own session),
  * and 71 / 33 / 0 / 0 with spark.sql.codegen.cache.maxEntries=2000.
  */
class NearDupIngestSpec extends SparkSpec {
  import spark.implicits._

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("near-duplicates are dropped within and across batches; replays are idempotent") {
    val root = Files.createTempDirectory("graft_ndingest").toString
    val src = s"$root/src"; val corpus = s"$root/corpus"
    val sigs = s"$root/sigs"; val bands = s"$root/bands"
    val schema = Seq.empty[(Long, String)].toDF("doc_id", "text").schema

    val docA = words("alpha", 30)
    // near-dup of A: same 30 words with ONE swapped — shingle overlap well
    // above the 0.5 threshold
    val docA2 = (words("alpha", 29) + " omega")
    val docB = words("beta", 30)

    // batch 1: A and its near-dup (min id 1 must win) plus unrelated B
    Seq((2L, docA2), (1L, docA), (3L, docB))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    NearDupIngest.startNearDupIngest(spark, src, schema, "doc_id", "text",
      corpus, sigs, bands, s"$root/ckpt1").awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))

    // batch 2: a cross-batch near-dup of A (drop), an exact copy of B
    // (near-dup at agreement 1.0 — drop), and a fresh doc (keep)
    Seq((10L, docA2), (11L, words("gamma", 30)), (12L, docB))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    NearDupIngest.startNearDupIngest(spark, src, schema, "doc_id", "text",
      corpus, sigs, bands, s"$root/ckpt1").awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 11L))

    // stores carry exactly the survivors: one signature row per doc,
    // numBands band rows per doc
    assert(spark.read.parquet(sigs).count() == 3)
    assert(spark.read.parquet(bands).count() == 3L * 16)

    // full replay from a FRESH checkpoint: every doc re-proposes against
    // its own stored bands and confirms at 1.0 — nothing appends
    NearDupIngest.startNearDupIngest(spark, src, schema, "doc_id", "text",
      corpus, sigs, bands, s"$root/ckpt2").awaitTermination()
    assert(spark.read.parquet(corpus).count() == 3)
  }

  test("blank docs are excluded; short docs dedup near-exactly") {
    val root = Files.createTempDirectory("graft_ndshort").toString
    Seq((1L, "a b"), (2L, words("x", 20)), (3L, "   "))
      .toDF("doc_id", "text").write.mode("append").parquet(s"$root/src")
    NearDupIngest.ingestBatch(
      spark.read.parquet(s"$root/src"), "doc_id", "text",
      s"$root/corpus", s"$root/sigs", s"$root/bands")
    // blank doc 3 has no signature and is not ingested; 1 and 2 survive
    assert(spark.read.parquet(s"$root/corpus").select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    // a later exact copy of the short doc is a near-dup at agreement 1.0
    Seq((9L, "a b")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$root/src2")
    NearDupIngest.ingestBatch(
      spark.read.parquet(s"$root/src2"), "doc_id", "text",
      s"$root/corpus", s"$root/sigs", s"$root/bands")
    assert(spark.read.parquet(s"$root/corpus").count() == 2)
  }
}
