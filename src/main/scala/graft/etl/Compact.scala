package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Parquet landing-zone maintenance.
  *
  * A continuously-ingesting pipeline (Pipeline.startStream at a daily
  * cadence, Ingest at a streaming one) accretes one-file-per-batch parquet:
  * at 100 TB that becomes the small-files problem — scan parallelism
  * shaped by file count instead of data size, and a NameNode/listing tax
  * per query. Periodic compaction is the standard fix; the reference's
  * single-CSV-a-day world never meets it, but any Spark user of this
  * library at scale will.
  *
  * Visibility model: a compacted dataset is a directory of immutable
  * version subdirs (`v=N/`), each carrying a `_READY` marker created only
  * after its data is completely written. [[resolve]] reads the HIGHEST
  * ready version. Nothing is ever overwritten or renamed — publishing is
  * one create of a new empty marker file — so a concurrent [[read]] sees
  * the old version or the new version, never a missing, half-written, or
  * half-renamed state. (A mutable pointer file this replaces was NOT
  * atomic everywhere: Hadoop's checksummed local FS renames the data file
  * and its .crc sidecar in two steps, and a reader between them fails the
  * checksum.) The previous version is retained one cycle as an
  * in-flight-reader grace period; older versions are garbage-collected.
  * This is the minimal commit-marker core of what ACID table formats do —
  * they remain the right tool when concurrent WRITERS also need
  * transactions.
  */
object Compact {

  private val Ready = "_READY"
  private val VersionDir = "^v=(\\d+)$".r

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All `v=N` subdirs paired with their readiness (marker present). */
  private def versions(fs: FileSystem, dir: String): Seq[(Long, Boolean)] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case s if s.isDirectory =>
        s.getPath.getName match {
          case VersionDir(n) =>
            Some(n.toLong -> fs.exists(new Path(s.getPath, Ready)))
          case _ => None
        }
    }.flatten
  }

  private def currentVersion(fs: FileSystem, dir: String): Option[Long] = {
    val ready = versions(fs, dir).collect { case (n, true) => n }
    if (ready.isEmpty) None else Some(ready.max)
  }

  /** Path of the live data: the highest ready `dir/v=N` when one exists,
    * `dir` itself for a plain (never-compacted) directory.
    */
  def resolve(spark: SparkSession, dir: String): String =
    currentVersion(fsOf(spark, dir), dir) match {
      case Some(n) => s"${dir.stripSuffix("/")}/v=$n"
      case None => dir
    }

  /** Read the live version of a (possibly compacted) dataset. The resolved
    * path is refreshed first: Spark's session file-status cache may hold a
    * pre-publish listing for it, and a versioned read must reflect the
    * CURRENT ready set, not a cached directory snapshot.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val p = resolve(spark, dir)
    spark.catalog.refreshByPath(p)
    spark.read.parquet(p)
  }

  /** Publish `version` as live: create its `_READY` marker. The data
    * directory is fully written BEFORE this runs, so a marker only ever
    * names complete data; the marker itself is create-once (never
    * overwritten, never renamed), which is what makes the flip safe on
    * every FileSystem — a reader observes it either absent (keeps the
    * previous version) or present (data already complete).
    */
  private[etl] def publish(spark: SparkSession, dir: String, version: Long): Unit = {
    val fs = fsOf(spark, dir)
    val marker = new Path(s"${dir.stripSuffix("/")}/v=$version", Ready)
    fs.create(marker, false).close()
  }

  /** Write `df` completely as the next `v=N` of `dir`, then publish it
    * with the create-once marker flip — the generic produce-an-artifact
    * path (trained models, reference tables): a writer materializes once,
    * any number of readers [[read]] the published copy, and a reader at
    * ANY instant sees the previous version or the new one, never a
    * partial directory. Returns the published version number.
    */
  def publishVersion(spark: SparkSession, df: DataFrame, dir: String): Long = {
    val fs = fsOf(spark, dir)
    val base = dir.stripSuffix("/")
    val nextV = (versions(fs, dir).map(_._1) :+ 0L).max + 1
    df.write.mode(SaveMode.Overwrite).parquet(s"$base/v=$nextV")
    publish(spark, dir, nextV)
    nextV
  }

  /** Count and total bytes of parquet data files directly under `dir`. */
  def parquetFootprint(spark: SparkSession, dir: String): (Int, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0, 0L)
    else {
      val files = fs.listStatus(p)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      (files.length, files.map(_.getLen).sum)
    }
  }

  /** Rewrite the live version into ceil(totalBytes / targetFileBytes)
    * files when it currently holds more; no-op (and no data pass) when
    * already compact. Returns the resulting file count.
    *
    * Write-then-publish: the next `v=N+1/` directory is written COMPLETELY,
    * then its `_READY` marker is created ([[publishVersion]]) — readers at ANY
    * instant resolve to a complete directory (old or new, never missing or
    * half-written). Superseded data (previous version directories, or a
    * migrated plain directory's loose files) is NOT deleted in the same
    * cycle: it is garbage-collected at the START of the NEXT compact
    * invocation, giving in-flight readers a full cycle of grace.
    * Concurrent readers are safe; concurrent compactors/writers still need
    * external coordination (the table-format layer's job).
    *
    * A plain directory is migrated on its first compaction: the compacted
    * copy lands in `v=1/` and is published; the loose top-level files
    * (version "0" for retention purposes) remain until GC supersedes them —
    * same guarantee.
    *
    * @param retainPriorVersions how many superseded versions to keep on
    *        disk besides the live one — the in-flight-reader grace window,
    *        measured in compaction cycles (the same retention knob ACID
    *        table formats expose). 1 is right for infrequent maintenance
    *        compaction; raise it when compaction runs at a cadence
    *        comparable to the longest reader.
    */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L << 20,
      retainPriorVersions: Int = 1): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    require(retainPriorVersions >= 0,
      s"retainPriorVersions must be >= 0: $retainPriorVersions")
    val fs = fsOf(spark, dir)
    val base = dir.stripSuffix("/")
    val vs = versions(fs, dir)
    val curV = { val r = vs.collect { case (n, true) => n }; if (r.isEmpty) None else Some(r.max) }
    // GC of versions older than the retention window (current version v,
    // keep v-retain..v; the migrated plain directory's loose files count
    // as version 0). Unready dirs below the live version are failed writes
    // — dead weight, collected with the same bound.
    curV.foreach { v =>
      if (v > retainPriorVersions) {
        fs.listStatus(new Path(dir))
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .foreach(s => fs.delete(s.getPath, false))
      }
      vs.foreach { case (n, ready) =>
        if (n < v - retainPriorVersions || (!ready && n < v))
          fs.delete(new Path(s"$base/v=$n"), true)
      }
    }
    val cur = resolve(spark, dir)
    val (nFiles, totalBytes) = parquetFootprint(spark, cur)
    val targetFiles = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    if (nFiles <= targetFiles) nFiles
    else {
      spark.catalog.refreshByPath(cur)
      publishVersion(spark, spark.read.parquet(cur).repartition(targetFiles), dir)
      targetFiles
    }
  }

  /** Data-skipping layout: directory partitioning on low-cardinality
    * `partitionCols` (partition pruning skips whole directories) plus
    * sortWithinPartitions on `sortCols` (parquet min/max row-group stats
    * skip within files). The repartition keeps one task — thus one output
    * file — per partition value instead of tasks × partitions fragments.
    */
  def writeClustered(df: DataFrame, dir: String,
      partitionCols: Seq[String], sortCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "writeClustered needs partition columns")
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(dir)
  }
}
