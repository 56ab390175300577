package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The runner's contract: every batch reaches the body rebuilt in the
  * caller's session, with the batch id the checkpoint assigns.
  */
class MicroBatchSpec extends SparkSpec {
  import spark.implicits._

  test("each batch runs in the caller's session; batch ids run on across a restart") {
    val root = Files.createTempDirectory("graft_microbatch").toString
    val src = s"$root/src"
    val schema = Seq.empty[(Long, String)].toDF("id", "s").schema
    // (batch id, batch is in the caller's session, ids in the batch)
    val seen = new ConcurrentLinkedQueue[(Long, Boolean, Seq[Long])]()
    def run(): Unit =
      MicroBatch.start(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(src),
          s"$root/ckpt", Trigger.AvailableNow()) { (batch, batchId) =>
        seen.add((batchId, batch.sparkSession eq spark,
          batch.select("id").as[Long].collect().toSeq))
      }.awaitTermination(120000)
    def land(id: Long): Unit =
      Seq((id, s"row $id")).toDF("id", "s").coalesce(1)
        .write.mode("append").parquet(src)

    land(1); land(2)
    run()
    land(3)
    run()

    val batches = seen.asScala.toSeq
    assert(batches.map(_._1) == Seq(0L, 1L, 2L),
      s"batch ids must continue from the checkpoint: $batches")
    assert(batches.forall(_._2), "a batch ran outside the caller's session")
    // one file per batch, every row exactly once, the restart's file last
    assert(batches.map(_._3.size) == Seq(1, 1, 1))
    assert(batches.flatMap(_._3).sorted == Seq(1L, 2L, 3L))
    assert(batches.last._3 == Seq(3L))
  }
}
