package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus,
  FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every query the program starts
  * ([[Streams.start]] names it on the session): checkpoint logs, state
  * store files and sink logs under a local path are published through
  * java.nio, and any other path gets the manager Spark would have picked
  * without the setting ([[underlying]]).
  *
  * Why: for a `file:` path Spark picks `FileContextBasedCheckpointFileManager`,
  * and Hadoop's local file system without its native library falls back to
  * OS processes. Every file-status lookup of `FileContext.rename` runs
  * `readlink` (on a `file:`-prefixed path, so it always fails) and every
  * create of a file, and of its `.crc` sidecar, runs `chmod`. A
  * micro-batch writes three log files (the source log, `offsets/`,
  * `commits/`), which forked about 30 processes.
  */
final class CheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val underlying: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case _: LocalFileSystem | _: RawLocalFileSystem =>
        new NioCheckpointFiles(path, hadoopConf)
      case _ =>
        val plain = new Configuration(hadoopConf)
        plain.unset(Streams.ManagerKey)
        CheckpointFileManager.create(path, plain)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

/** Spark's file-system manager with its two forking steps replaced: a file
  * is written to a temp file with java.nio, then published under its final
  * name with `link(2)` when it must not overwrite (so the existence check
  * is atomic, and a second writer gets Hadoop's
  * `FileAlreadyExistsException`, which `HDFSMetadataLog` reports as two
  * queries writing one checkpoint) or with an atomic `rename(2)` when it
  * may. Either way the temp file is gone afterwards.
  *
  * A file is published whole, so a torn write never shows under its final
  * name. What is given up: new files carry no `.crc` sidecar; a publish
  * over an existing name deletes that name's old sidecar, which would
  * otherwise fail a later checksummed read of the new file. Like Spark's
  * own local managers, nothing is forced to disk. Reads, listings,
  * deletes and directory creation stay Spark's.
  */
private final class NioCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private def local(p: Path): java.nio.file.Path =
    Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream = {
    val file = local(p)
    Files.createDirectories(file.getParent)
    new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(file)), null)
  }

  override def renameTempFile(src: Path, dst: Path,
      overwriteIfPossible: Boolean): Unit = {
    val (temp, target) = (local(src), local(dst))
    try {
      if (overwriteIfPossible) {
        Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
        Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      } else Files.createLink(target, temp)
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        val err = new FileAlreadyExistsException(
          s"Failed to rename $src to $dst as destination already exists")
        err.initCause(e)
        throw err
    } finally Files.deleteIfExists(temp)
  }
}
