package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one foreachBatch runner: every micro-batch leg in the library
  * (`Pipeline`'s transform leg, [[Ingest]], [[NearDupIngest]], the
  * streaming SCD merge) starts through [[start]].
  */
object MicroBatch {

  /** Start `source` as a streaming query that hands each micro-batch and
    * its batch id to `body`, with `checkpoint` and `trigger` as given and
    * Spark's default (append) output mode.
    *
    * Each micro-batch is re-planned in the caller's session (the one
    * `source` was read in) before `body` sees it. A started query runs its
    * batches in a clone of the session with a session id of its own, and
    * executors load generated classes through one classloader per session
    * id; Spark's compiled-code cache is keyed on that classloader as well
    * as on the source. In the clone, every restart of a leg (each daily
    * AvailableNow run) compiled all of its executor-side code again: 17 of
    * the 23 classes a traced etl_daily day compiled. In the caller's
    * session every batch of every run reuses the classes the first batch
    * compiled, and the body runs under that session's current SQL
    * settings, not the clone's copy of them. A body must keep per-batch
    * values out of the generated source for the same reason (see
    * `Pipeline.jdbcIdempotentAppend`).
    *
    * Spark hands foreachBatch a frame over the batch's already-planned
    * rows (a `LogicalRDD`), so re-planning that same logical plan in the
    * caller's session touches no row: the body scans exactly what it
    * scanned in the clone. (`createDataFrame(batch.rdd, schema)` would
    * decode every row to an external `Row` and encode it again, on every
    * scan of the batch.) The batch keeps its lineage: `input_file_name()`
    * still names each row's source file.
    */
  def start(source: DataFrame, checkpoint: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = source.sparkSession
    source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(GraftBridge.ofRows(spark, batch.queryExecution.logical), batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** A parquet store that a batch body reads back and appends to: its
    * rows, or an empty frame of `schema` before the first append made it.
    */
  def readStore(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    try spark.read.parquet(dir)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }
}
