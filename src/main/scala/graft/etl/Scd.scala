package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.streaming.MicroBatch

/** Slowly-changing-dimension maintenance — the warehouse-load step the
  * reference's JDBC append (scripts/load_db.py:24-58) gestures at without
  * versioning: its daily table overwrites history, so "what was this row
  * last month" is unanswerable. Type-2 merge is the standard fix: every
  * key keeps a timeline of versioned rows `(valid_from, valid_to,
  * is_current)`, and a batch of updates closes changed rows and opens new
  * versions instead of destroying the old values.
  */
object Scd {

  /** Type-2 merge of an update batch into a versioned dimension.
    *
    * `dim` rows carry `keyCols ++ attrCols ++ (valid_from, valid_to,
    * is_current)`; `updates` carry `keyCols ++ attrCols` (at most one row
    * per key — dedupe upstream, e.g. [[graft.llm.Dedup.exactDedupByKey]]).
    * For each update: a key whose current attributes differ gets its
    * current row CLOSED (`valid_to = batchDate, is_current = false`) and a
    * new current version opened at `batchDate`; an unseen key gets a first
    * version; an update equal to the current row is a no-op. Non-current
    * (history) rows and un-updated keys pass through untouched.
    *
    * Shape: ONE shuffle — the full-outer key join of the current slice
    * against the batch. Each joined row then emits its 0/1/2 output rows
    * through a single exploded CASE array, so the join is never recomputed
    * per branch (the naive union-of-three-filters form pays the join three
    * times). History rows ride a union outside the join — no shuffle.
    * Attribute comparison is null-safe (`<=>`), so NULL→value and
    * value→NULL transitions version correctly.
    */
  def mergeType2(dim: DataFrame, updates: DataFrame, keyCols: Seq[String],
      attrCols: Seq[String], batchDate: String): DataFrame = {
    require(keyCols.nonEmpty, "mergeType2 needs at least one key column")
    require(attrCols.nonEmpty, "mergeType2 needs at least one attribute column")
    val metaCols = Seq("valid_from", "valid_to", "is_current")
    val outCols = keyCols ++ attrCols ++ metaCols
    val cur = dim.filter(col("is_current"))
    val hist = dim.filter(!col("is_current")).select(outCols.map(col): _*)
    val u = updates.select((keyCols ++ attrCols).map(col): _*)

    val joinCond = keyCols.map(k => col(s"c.$k") <=> col(s"u.$k")).reduce(_ && _)
    val joined = cur.as("c").join(u.as("u"), joinCond, "full_outer")

    val cMissing = keyCols.map(k => col(s"c.$k").isNull).reduce(_ && _)
    val uMissing = keyCols.map(k => col(s"u.$k").isNull).reduce(_ && _)
    val attrsEqual = attrCols.map(a => col(s"c.$a") <=> col(s"u.$a")).reduce(_ && _)

    def rowStruct(key: String => Column, attr: String => Column,
        vf: Column, vt: Column, curFlag: Column): Column =
      struct((keyCols.map(k => key(k).as(k)) ++ attrCols.map(a => attr(a).as(a)) ++
        Seq(vf.as("valid_from"), vt.as("valid_to"), curFlag.as("is_current"))): _*)

    val carried = rowStruct(k => col(s"c.$k"), a => col(s"c.$a"),
      col("c.valid_from"), col("c.valid_to"), col("c.is_current"))
    val closed = rowStruct(k => col(s"c.$k"), a => col(s"c.$a"),
      col("c.valid_from"), lit(batchDate), lit(false))
    val opened = rowStruct(k => coalesce(col(s"u.$k"), col(s"c.$k")),
      a => col(s"u.$a"), lit(batchDate), lit(null).cast("string"), lit(true))

    val emitted = when(uMissing, array(carried)) // un-updated key: pass through
      .when(cMissing, array(opened)) // brand-new key: first version
      .when(attrsEqual, array(carried)) // no-op update
      .otherwise(array(closed, opened)) // changed: close + open
    joined.select(explode(emitted).as("__r")).select(col("__r.*"))
      .unionByName(hist)
  }

  /** Snapshot diff: classify every key across two table versions as
    * `added` / `removed` / `changed` (attribute values from BOTH sides
    * carried as `old_<attr>` / `new_<attr>`). The audit face of
    * [[mergeType2]] — what changed between yesterday's load and today's —
    * and the pre-flight check before applying a batch: a diff that is 90%
    * `removed` usually means the extract broke, not the world.
    *
    * One full-outer key join (null-safe attribute compare); unchanged
    * keys are dropped by default — at 100 TB the interesting rows are the
    * delta, not the 99.9% that didn't move — pass includeUnchanged=true
    * for the full classification.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
      attrCols: Seq[String], includeUnchanged: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(attrCols.nonEmpty, "snapshotDiff needs at least one attribute column")
    val o = oldDf.select((keyCols ++ attrCols).map(col): _*)
    val n = newDf.select((keyCols ++ attrCols).map(col): _*)
    val joinCond = keyCols.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    val oMissing = keyCols.map(k => col(s"o.$k").isNull).reduce(_ && _)
    val nMissing = keyCols.map(k => col(s"n.$k").isNull).reduce(_ && _)
    val attrsEqual = attrCols.map(a => col(s"o.$a") <=> col(s"n.$a")).reduce(_ && _)
    val status = when(oMissing, lit("added"))
      .when(nMissing, lit("removed"))
      .when(attrsEqual, lit("unchanged"))
      .otherwise(lit("changed"))
    val out = o.as("o").join(n.as("n"), joinCond, "full_outer")
      .select(keyCols.map(k => coalesce(col(s"n.$k"), col(s"o.$k")).as(k)) ++
        Seq(status.as("status")) ++
        attrCols.flatMap(a => Seq(col(s"o.$a").as(s"old_$a"), col(s"n.$a").as(s"new_$a"))): _*)
    if (includeUnchanged) out else out.filter(col("status") =!= "unchanged")
  }

  /** Streaming merge-on-ingest: a continuously-maintained type-2 dimension.
    * Each arriving update file is one micro-batch
    * ([[graft.streaming.MicroBatch.start]]) that reads the CURRENT
    * dimension version ([[Compact.read]]), applies [[mergeType2]] with the
    * batch id as a synthetic batch date, and publishes the merged dimension
    * as the next `v=N/` version ([[Compact.publishVersion]]: written
    * COMPLETELY, then marked with a create-once `_READY`) — so a concurrent
    * dimension reader sees the previous or the next complete version at
    * every instant, never a partial merge. This composes three engine
    * pieces into the standard warehouse ingestion loop: streaming file
    * arrival → versioned SCD2 history → atomic reader-safe publish.
    *
    * foreachBatch (not a streaming join) because the merge must read its
    * OWN previous output — a feedback edge streaming DAGs can't express —
    * and because per-batch semantics hold no standing state: the dimension
    * lives in parquet, not the state store, so a restart resumes from the
    * checkpoint + the last published version. Batch dates are
    * `baseDate + batchId` days (deterministic under replay); a real
    * deployment passes event-derived dates instead.
    */
  def startStreamingMerge(spark: SparkSession, updatesDir: String,
      updateSchema: StructType, dimDir: String, keyCols: Seq[String],
      attrCols: Seq[String], baseDate: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val updates = spark.readStream
      .schema(updateSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(updatesDir)
    val dimPath = new Path(dimDir)
    val fs = dimPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    MicroBatch.start(updates, checkpoint, trigger) { (batch, batchId) =>
      val dim =
        if (fs.exists(dimPath)) Compact.read(spark, dimDir)
        else // empty bootstrap dimension with the output schema
          batch.select((keyCols ++ attrCols).map(col) ++ Seq(
            lit("").as("valid_from"),
            lit(null).cast("string").as("valid_to"),
            lit(true).as("is_current")): _*).limit(0)
      val batchDate = java.time.LocalDate.parse(baseDate)
        .plusDays(batchId).toString
      Compact.publishVersion(spark,
        mergeType2(dim, batch, keyCols, attrCols, batchDate), dimDir)
    }
  }
}
