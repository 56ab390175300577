package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.llm.Dedup

/** Streaming NEAR-duplicate ingestion — the continuous form of the
  * two-stage verified dedup (`dedup_minhash_verified`): per micro-batch,
  * MinHash band keys PROPOSE candidates against the already-ingested
  * corpus (an equi-join on a persisted band-key store), signature
  * agreement CONFIRMS them (a join against the persisted signatures of
  * just the colliding documents), and only confirmed-novel documents
  * append. In-batch near-dups collapse to their min-id representative via
  * the same pairs → connected-components → canonical-keep machinery the
  * batch path uses.
  *
  * Why not streaming state: near-dup state is the corpus's signatures —
  * it must grow with the corpus, so it belongs on disk, not in the state
  * store. Both stores are plain parquet scanned per batch; executor
  * memory stays O(batch + band collisions), never O(history). The
  * signature store carries one row per ingested doc; the band store
  * `numBands` rows per doc — both written once at ingest, exactly the
  * build-artifact pattern of the ANN family.
  *
  * Delivery matches [[Ingest]]: at-least-once. The corpus append runs
  * before the store appends; a replay after a complete batch re-proposes
  * against the batch's own stored bands and confirms at agreement 1.0, so
  * it drops everything — idempotent on content.
  *
  * Documents shorter than `shingleK` tokens carry the whole-word-list
  * shingle (MinHashSig's batch semantics), so their near-dup test
  * degenerates to near-exact match — consistent with the batch family.
  * BLANK documents yield an empty signature, have no near-dup semantics,
  * and are NOT ingested; route them through the exact-dedup [[Ingest]].
  */
object NearDupIngest {

  /** Scalar band keys (band index + joined slice values): the join- and
    * store-friendly rendering of Dedup.lshBandsExact's struct form.
    */
  private def bandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(Dedup.lshBandsExact(sig, numBands, rowsPerBand),
      b => concat_ws(":", b.getField("band"),
        array_join(b.getField("vals").cast("array<string>"), ",")))

  /** Start the near-dup-deduped ingest over a parquet file-arrival source. */
  def startNearDupIngest(spark: SparkSession, srcDir: String,
      schema: StructType, idCol: String, textCol: String, corpusDir: String,
      sigStoreDir: String, bandStoreDir: String, checkpoint: String,
      numHashes: Int = 64, numBands: Int = 16, minJaccard: Double = 0.5,
      shingleK: Int = 3,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(spark.readStream.schema(schema).parquet(srcDir),
        checkpoint, trigger) { (batch, _) =>
      ingestBatch(batch, idCol, textCol, corpusDir, sigStoreDir,
        bandStoreDir, numHashes, numBands, minJaccard, shingleK)
    }

  /** One micro-batch of the near-dup ingest (also usable for backfills). */
  def ingestBatch(batch: DataFrame, idCol: String, textCol: String,
      corpusDir: String, sigStoreDir: String, bandStoreDir: String,
      numHashes: Int = 64, numBands: Int = 16, minJaccard: Double = 0.5,
      shingleK: Int = 3): Unit = {
    require(numHashes % numBands == 0,
      s"numBands ($numBands) must divide numHashes ($numHashes)")
    val spark = batch.sparkSession
    val rowsPerBand = numHashes / numBands
    val cols = batch.columns
    val agree = (a: Column, b: Column) =>
      graft.expr.SigAgreement(a, b).cast("double") / numHashes

    val withSig = batch.select(
        struct(cols.map(col): _*).as("__row"),
        col(idCol).cast("long").as("__id"),
        graft.expr.MinHashSig(col(textCol), shingleK, numHashes,
          md5Base = false).as("__sig"))
      .filter(size(col("__sig")) > 0)
    val bk = withSig.select(col("__id"), col("__sig"),
      explode(bandKeys(col("__sig"), numBands, rowsPerBand)).as("__bk"))

    // in-batch near-dups: banded candidates, confirmed agreement, CC,
    // min-id representative survives (chains collapse to ONE doc)
    val pa = bk.select(col("__bk"), col("__id").as("id_a"), col("__sig").as("sig_a"))
    val pb = bk.select(col("__bk"), col("__id").as("id_b"), col("__sig").as("sig_b"))
    val batchPairs = pa.join(pb, Seq("__bk"))
      .filter(col("id_a") < col("id_b"))
      .filter(agree(col("sig_a"), col("sig_b")) >= minJaccard)
      .select("id_a", "id_b").distinct()
    val labels = Dedup.connectedComponents(
      withSig.select(col("__id").as("id")), batchPairs)
    val localKeep = withSig.join(
      labels.filter(col("id") === col("component"))
        .select(col("id").as("__id")), Seq("__id"))

    // cross-batch: band store proposes, signature store confirms
    val storedBands = MicroBatch.readStore(spark, bandStoreDir, StructType(Seq(
      StructField("__bk", StringType), StructField("doc_id", LongType))))
    val storedSigs = MicroBatch.readStore(spark, sigStoreDir, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sig", org.apache.spark.sql.types.ArrayType(LongType)))))
    val cands = bk.join(storedBands, Seq("__bk"))
      .select(col("__id"), col("__sig"), col("doc_id")).distinct()
    val nearDup = cands.join(storedSigs, Seq("doc_id"))
      .filter(agree(col("__sig"), col("sig")) >= minJaccard)
      .select("__id").distinct()

    val fresh = localKeep.join(nearDup, Seq("__id"), "left_anti").persist()
    try {
      // corpus first (see delivery note): a mid-crash replay duplicates
      // rather than losing documents
      fresh.select(col("__row.*")).write.mode("append").parquet(corpusDir)
      fresh.select(col("__id").as("doc_id"), col("__sig").as("sig"))
        .write.mode("append").parquet(sigStoreDir)
      fresh.select(col("__id").as("doc_id"),
          explode(bandKeys(col("__sig"), numBands, rowsPerBand)).as("__bk"))
        .select(col("__bk"), col("doc_id"))
        .write.mode("append").parquet(bandStoreDir)
    } finally fresh.unpersist()
  }
}
