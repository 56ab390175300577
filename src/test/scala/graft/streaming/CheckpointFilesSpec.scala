package graft.streaming

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => NioPath}
import java.util.ConcurrentModificationException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem,
  FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec

/** A file system under a scheme of its own, so a path on it is not local
  * to Spark's checkpoint managers (it is Hadoop's raw local file system
  * underneath).
  */
class LoopbackFileSystem extends FilterFileSystem(new RawLocalFileSystem) {
  override def getScheme: String = "loopback"
}

/** A metadata log that runs `beforeWrite` while it writes a batch, after
  * it found the batch's file absent.
  */
class RacedLog(spark: SparkSession, dir: String, beforeWrite: () => Unit)
    extends HDFSMetadataLog[String](spark, dir) {
  def manager: CheckpointFileManager = fileManager
  override def serialize(metadata: String, out: OutputStream): Unit = {
    beforeWrite()
    super.serialize(metadata, out)
  }
}

/** The checkpoint manager's guards: a publish that must not overwrite
  * fails on an existing file and keeps it, a publish that may replaces the
  * file and its stale checksum, no temp file outlives a publish or a
  * cancel, paths that are not local keep Spark's own manager, and a
  * checkpoint resumes across the switch in both directions.
  */
class CheckpointFilesSpec extends SparkSpec {
  import spark.implicits._

  private def manager(dir: NioPath): CheckpointFileManager =
    new CheckpointFiles(new Path(dir.toUri), new Configuration())

  private def publish(fm: CheckpointFileManager, dir: NioPath, name: String,
      text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(dir.resolve(name).toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a publish that must not overwrite fails on an existing file and keeps it") {
    val dir = Files.createTempDirectory("graft_ckpt_keep")
    val fm = manager(dir)
    publish(fm, dir, "0", "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      publish(fm, dir, "0", "second", overwrite = false)
    }
    assert(Files.readString(dir.resolve("0")) == "first")
    // neither publish left its temp file, and neither wrote a checksum
    assert(names(dir) == Set("0"))
  }

  test("two writers of one metadata log: the second gets the concurrent-update error") {
    val dir = Files.createTempDirectory("graft_ckpt_log").resolve("log").toString
    // a session of its own, so the setting does not reach other specs
    val session = spark.newSession()
    session.conf.set(Streams.ManagerKey, classOf[CheckpointFiles].getName)
    val theirs = new HDFSMetadataLog[String](session, dir)
    // the other writer publishes batch 0 while this one is writing it
    val mine = new RacedLog(session, dir, () => assert(theirs.add(0, "theirs")))
    assert(mine.manager.isInstanceOf[CheckpointFiles])
    val e = intercept[ConcurrentModificationException](mine.add(0, "mine"))
    assert(e.getCause.isInstanceOf[FileAlreadyExistsException])
    assert(new HDFSMetadataLog[String](session, dir).get(0).contains("theirs"))
    assert(names(Paths.get(dir)) == Set("0"))
  }

  test("a publish that may overwrite replaces the file and its stale checksum") {
    val dir = Files.createTempDirectory("graft_ckpt_replace")
    val target = new Path(dir.resolve("state").toUri)
    // Hadoop's checksummed local file system writes the file and ".state.crc"
    val checksummed = FileSystem.getLocal(new Configuration())
    val old = checksummed.create(target)
    old.write("an older, longer state file".getBytes(UTF_8))
    old.close()
    assert(Files.exists(dir.resolve(".state.crc")))

    publish(manager(dir), dir, "state", "new state", overwrite = true)
    assert(names(dir) == Set("state"))
    // a checksummed read sees the new bytes, not a checksum error
    val in = checksummed.open(target)
    try assert(new String(in.readAllBytes(), UTF_8) == "new state")
    finally in.close()
  }

  test("a cancelled write leaves no file behind") {
    val dir = Files.createTempDirectory("graft_ckpt_cancel")
    val out = manager(dir).createAtomic(new Path(dir.resolve("0").toUri),
      overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("a path that is not local gets the manager Spark would pick") {
    val conf = new Configuration()
    conf.set("fs.loopback.impl", classOf[LoopbackFileSystem].getName)
    conf.setBoolean("fs.loopback.impl.disable.cache", true)
    val plain = new Configuration(conf)
    conf.set(Streams.ManagerKey, classOf[CheckpointFiles].getName)
    val dir = Files.createTempDirectory("graft_ckpt_remote").toString

    val remote = new Path(s"loopback://$dir")
    val chosen = CheckpointFileManager.create(remote, conf)
    assert(chosen.isInstanceOf[CheckpointFiles])
    val sparks = CheckpointFileManager.create(remote, plain).getClass
    assert(sparks == classOf[FileSystemBasedCheckpointFileManager])
    assert(chosen.asInstanceOf[CheckpointFiles].underlying.getClass == sparks)

    val local = CheckpointFileManager.create(new Path(s"file://$dir"), conf)
    assert(local.asInstanceOf[CheckpointFiles].underlying
      .isInstanceOf[NioCheckpointFiles])
  }

  test("a checkpoint resumes across the switch, in both directions") {
    val root = Files.createTempDirectory("graft_ckpt_switch").toString
    val (src, out, ckpt) = (s"$root/src", s"$root/out", s"$root/ckpt")
    val schema = Seq.empty[Long].toDF("id").schema
    def land(id: Long): Unit =
      Seq(id).toDF("id").coalesce(1).write.mode("append").parquet(src)
    def source(s: SparkSession) =
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    // Spark's default manager: a session that never had the setting
    val plain = spark.newSession()
    assert(plain.conf.getOption(Streams.ManagerKey).isEmpty)
    def withDefault(): StreamingQuery =
      source(plain).writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
        .start()
    def withNio(): StreamingQuery =
      Streams.start(source(spark), ckpt, Trigger.AvailableNow())(
        _.format("parquet").option("path", out))
    def batchIds(q: StreamingQuery): Seq[Long] = {
      q.awaitTermination(120000)
      assert(q.exception.isEmpty)
      q.recentProgress.map(_.batchId).toSeq.distinct
    }
    def rows: Seq[Long] = spark.read.parquet(out).as[Long].collect().toSeq.sorted

    land(1); land(2)
    assert(batchIds(withDefault()) == Seq(0L, 1L))
    assert(Files.exists(Paths.get(s"$ckpt/offsets/.1.crc")))
    land(3)
    assert(batchIds(withNio()) == Seq(2L))
    assert(Files.exists(Paths.get(s"$ckpt/offsets/2")))
    assert(!Files.exists(Paths.get(s"$ckpt/offsets/.2.crc")))
    assert(rows == Seq(1L, 2L, 3L))
    land(4)
    assert(batchIds(withDefault()) == Seq(3L))
    assert(rows == Seq(1L, 2L, 3L, 4L))
  }
}
