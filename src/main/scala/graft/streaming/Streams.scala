package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one place the program starts a streaming query: [[MicroBatch.start]],
  * `Pipeline.startLoadStream` and `Ingest.startWatermarkDedupedIngest` all
  * start through [[start]].
  */
object Streams {

  /** Spark's setting for the class that writes a query's checkpoint files
    * (an internal SQL setting, copied into the Hadoop configuration that
    * checkpoint logs and state stores are opened with).
    */
  private[streaming] val ManagerKey =
    "spark.sql.streaming.checkpointFileManagerClass"

  /** Start `source` as a streaming query: `sink` configures the writer
    * (format, path or foreachBatch), then `checkpoint` and `trigger` are
    * applied and the query starts.
    *
    * Every checkpoint file of the query goes through [[CheckpointFiles]]:
    * the setting is made on `source`'s session, and that session keeps it
    * after the query has started, so later reads and writes of checkpoint
    * or sink logs in the same session use the same manager. It cannot be
    * set on a child or cloned session instead: the query would then
    * register with another `StreamingQueryManager`, and listeners on the
    * caller's `spark.streams` would stop seeing its progress.
    */
  def start(source: DataFrame, checkpoint: String, trigger: Trigger)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    source.sparkSession.conf.set(ManagerKey, classOf[CheckpointFiles].getName)
    sink(source.writeStream)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
