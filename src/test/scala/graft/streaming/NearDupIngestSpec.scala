package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Streaming NEAR-dup ingest: MinHash bands propose against the persisted
  * band store, signature agreement confirms, min-id wins in-batch.
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

  test("a restarted near-dup ingest compiles no new code, after other work too") {
    // one run of this leg compiles about 70 classes when its batch holds
    // near-duplicates, and a session serves other queries between the
    // daily runs: its codegen cache must keep the leg's classes through
    // both (GraftSession sizes it)
    val root = Files.createTempDirectory("graft_ndrestart").toString
    val src = s"$root/src"
    val schema = Seq.empty[(Long, String)].toDF("doc_id", "text").schema
    def doc(run: Int, f: Int): String = words(s"run${run}doc${f}w", 30)
    // per run, two files; each holds a document, its in-batch near-dup and
    // a near-dup of the previous run's document from the same file slot
    def run(r: Int): Long = {
      // other work first: queries that differ only in a literal, which
      // codegen writes into the source, so each compiles a class of its own
      for (k <- 1 to 150)
        spark.range(4).select((col("id") * (r * 1000L + k)).as("x"))
          .write.format("noop").mode("overwrite").save()
      for (f <- 1 to 2) {
        val id = r * 100L + f * 10
        Seq((id, doc(r, f)), (id + 1, doc(r, f) + " omega"),
            (id + 2, doc(r - 1, f) + " zeta"))
          .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
      }
      classesCompiledBy(NearDupIngest.startNearDupIngest(spark, src, schema,
        "doc_id", "text", s"$root/corpus", s"$root/sigs", s"$root/bands",
        s"$root/ckpt").awaitTermination())
    }
    val compiled = (1 to 4).map(run)
    assert(compiled.drop(2) == Seq(0L, 0L), s"classes compiled per run: $compiled")
    // run 1 keeps its documents and its fresh third ones; every later run
    // keeps only its own documents
    val kept = spark.read.parquet(s"$root/corpus").select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(kept == Seq(110L, 112L, 120L, 122L, 210L, 220L, 310L, 320L, 410L, 420L))
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
