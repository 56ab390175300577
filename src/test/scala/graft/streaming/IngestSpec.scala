package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming corpus ingest with exact cross-batch dedup (bounded state:
  * the fingerprint store is parquet on disk, not the state store).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("cross-batch and in-batch duplicates are dropped across stream restarts") {
    val root = Files.createTempDirectory("graft_ingest").toString
    val src = s"$root/src"; val corpus = s"$root/corpus"
    val fps = s"$root/fps"; val ckpt = s"$root/ckpt"
    val schema = Seq.empty[(Long, String)].toDF("doc_id", "text").schema

    // batch 1: two distinct docs
    Seq((1L, "alpha text one"), (2L, "beta text two"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q1 = Ingest.startDedupedIngest(spark, src, schema, "doc_id", "text",
      corpus, fps, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))

    // batch 2 (after a restart): one cross-batch dup (same text as doc 2),
    // one fresh doc duplicated within the batch (min id must win)
    Seq((3L, "beta text two"), (5L, "gamma text three"), (4L, "gamma text three"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q2 = Ingest.startDedupedIngest(spark, src, schema, "doc_id", "text",
      corpus, fps, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 4L))
    // the store holds exactly one fingerprint per surviving doc
    assert(spark.read.parquet(fps).distinct().count() == 3)

    // replaying already-known content appends nothing (idempotent on
    // content, regardless of ids)
    Seq((9L, "alpha text one")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val q3 = Ingest.startDedupedIngest(spark, src, schema, "doc_id", "text",
      corpus, fps, ckpt)
    q3.awaitTermination()
    assert(spark.read.parquet(corpus).count() == 3)
  }

  test("a restarted deduped ingest compiles no new code") {
    val root = Files.createTempDirectory("graft_ingest_codegen").toString
    val src = s"$root/src"
    val schema = Seq.empty[(Long, String)].toDF("doc_id", "text").schema
    def land(ids: Long*): Unit =
      ids.map(i => (i, s"document number $i")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(src)
    def run(): Unit =
      Ingest.startDedupedIngest(spark, src, schema, "doc_id", "text",
        s"$root/corpus", s"$root/fps", s"$root/ckpt").awaitTermination()

    // run 1 finds no fingerprint store yet, so its anti-join side is a
    // local empty relation; run 2 is the first to scan the store and
    // compiles what every later restart needs
    land(1, 2); land(3, 4); run()
    land(5, 6); land(7, 8); run()
    land(9, 10); land(11, 12)
    val compiled = classesCompiledBy(run())
    assert(compiled == 0L, s"the restarted ingest compiled $compiled classes")
    assert(spark.read.parquet(s"$root/corpus").select("doc_id").as[Long]
      .collect().sorted.toSeq == (1L to 12L))
  }

  test("rate-limited ingest: a later batch of one run sees what an earlier one stored") {
    val root = Files.createTempDirectory("graft_ingest_ratelimit").toString
    val src = s"$root/src"
    val schema = Seq.empty[(Long, String)].toDF("doc_id", "text").schema
    // two files with the same text; the second is written later, so it is
    // newer and one-file-per-batch admission takes it second
    for (id <- Seq(1L, 2L))
      Seq((id, "the same listing text")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(src)

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = Ingest.startRateLimitedIngest(spark, src, schema,
      filesPerTrigger = 1, interval = "50 milliseconds",
      checkpoint = s"$root/ckpt") { (df, id) =>
      batches.add(id)
      Ingest.ingestBatch(df, "doc_id", "text", s"$root/corpus", s"$root/fps")
    }
    try q.processAllAvailable() finally q.stop()

    assert(batches.size == 2, s"expected one batch per file, got $batches")
    // the second batch anti-joins against the fingerprint the first stored
    assert(spark.read.parquet(s"$root/corpus").select("doc_id").as[Long]
      .collect().toSeq == Seq(1L))
  }

  test("watermark dedup: exact within the horizon, re-admits after expiry (bounded state)") {
    import java.sql.Timestamp
    def ts(s: String): Timestamp = Timestamp.valueOf(s)
    val root = Files.createTempDirectory("graft_wmdedup").toString
    val src = s"$root/src"; val corpus = s"$root/corpus"; val ckpt = s"$root/ckpt"
    val schema = Seq.empty[(Long, String, Timestamp)]
      .toDF("doc_id", "text", "ts").schema
    def run(rows: (Long, String, Timestamp)*): Unit = {
      rows.toDF("doc_id", "text", "ts").write.mode("append").parquet(src)
      Ingest.startWatermarkDedupedIngest(spark, src, schema, "text", "ts",
        corpus, ckpt, horizon = "30 minutes").awaitTermination()
    }
    def ids: Seq[Long] =
      spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq

    // in-batch duplicate content: one survivor
    run((1L, "alpha text", ts("2026-01-01 10:00:00")),
      (2L, "alpha text", ts("2026-01-01 10:01:00")))
    assert(ids.size == 1 && Set(1L, 2L).contains(ids.head))
    val kept = ids.head

    // cross-batch duplicate WITHIN the 30-min horizon: dropped
    run((3L, "alpha text", ts("2026-01-01 10:05:00")))
    assert(ids == Seq(kept))

    // advance the watermark well past the alpha entry's expiry…
    run((4L, "delta text", ts("2026-01-01 12:00:00")))
    assert(ids == Seq(kept, 4L).sorted)

    // …and the SAME content is now re-admitted: the documented horizon
    // contract of the bounded-state path (the store-backed ingest above
    // keeps exactness forever at the cost of owning a store)
    run((5L, "alpha text", ts("2026-01-01 12:01:00")))
    assert(ids == Seq(kept, 4L, 5L).sorted)
  }
}
