package graft.etl

import java.sql.{Connection, DriverManager, Types}
import java.util.Locale

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.schema.PropertySchema
import graft.streaming.{MicroBatch, Streams}

/** The reference's orchestration semantics (SURVEY.md §2.10) re-expressed
  * with Spark file sources.
  *
  * The reference polls S3 with Airflow `S3KeySensor`s, processes the first
  * matching CSV, then archive-copies and deletes it
  * (scripts/dag.py:45-69, scripts/transform.py:122-139,
  * scripts/load_db.py:49-58). Structured Streaming's file source does all
  * of that natively: new-file detection, exactly-once per file via the
  * checkpoint, and `cleanSource=archive` for the move-on-completion.
  *
  * Each rule lives in one place: the TSV format in [[Tsv]], file arrival
  * in [[arrivals]], the per-file transform in [[transformLeg]] and the
  * JDBC append in [[loadToSink]].
  */
object Pipeline {

  /** The reference's one interchange format, at all of its call sites
    * (scripts/extract.py:49-54, scripts/transform.py:128-137,
    * scripts/load_db.py:53-56): tab-separated, header row, files named
    * "*.csv". Read options are ignored by the writer.
    */
  private val Tsv: Map[String, String] = Map(
    "sep" -> "\t",
    "header" -> "true",
    // quoted newlines inside values (pandas read_csv handles these by
    // default; without multiLine a quoted record splits into malformed
    // rows). Cost: multiLine CSV files are read whole, not split — fine
    // for the reference's one-file-per-batch layout.
    "multiLine" -> "true",
    "pathGlobFilter" -> "*.csv")

  /** Batch read of raw property TSVs under a directory. */
  def readRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(PropertySchema.raw).options(Tsv).csv(dir)

  /** One batch run: read every pending raw file, transform, write the
    * transformed table (parquet — columnar beats the reference's CSV landing
    * at any scale), then archive-and-delete the inputs on success — the
    * batch analogue of transform.py:122-139.
    */
  def runBatch(spark: SparkSession, rawDir: String, outDir: String,
      archiveDir: String, dumpDate: String): Unit = {
    val raw = readRaw(spark, rawDir)
    Transform(raw, dumpDate).write.mode("append").parquet(outDir)
    archiveInputs(spark, rawDir, archiveDir)
  }

  /** Move every processed "*.csv" to the archive with the reference's
    * "processed_" prefix surgery (scripts/transform.py:123-125): the batch
    * analogue of its copy+delete.
    */
  def archiveInputs(spark: SparkSession, rawDir: String, archiveDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(rawDir)
    val fs = src.getFileSystem(conf)
    val dst = new Path(archiveDir)
    if (!fs.exists(dst)) fs.mkdirs(dst)
    if (fs.exists(src)) {
      fs.listStatus(src).filter(_.getPath.getName.endsWith(".csv")).foreach { st =>
        val name = st.getPath.getName
        // "raw_properties_x.csv" → "processed_properties_x.csv"
        // (scripts/transform.py:123-125 splits on 'raw_' then re-prefixes)
        val archived =
          if (name.startsWith("raw_")) "processed_" + name.stripPrefix("raw_")
          else name
        fs.rename(st.getPath, new Path(dst, archived))
      }
    }
  }

  /** File arrival, the Spark-native replacement for the S3KeySensor loop:
    * `maxFilesPerTrigger=1` reproduces the reference's one-file-per-run
    * semantics; `cleanSource=archive` reproduces archive-then-delete.
    *
    * Archive timing: Spark archives batch N's source files when batch N+1
    * starts, so after an AvailableNow drain the LAST consumed file is
    * archived by the next run (the daily re-trigger), not before stop.
    */
  private def arrivals(spark: SparkSession, schema: StructType, dir: String,
      archiveDir: String): DataFrame =
    spark.readStream.schema(schema).options(Tsv)
      .option("maxFilesPerTrigger", 1)
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .csv(dir)

  /** Raw file arrival → [[Transform]] → `sink(transformed, batchId)`,
    * started through [[graft.streaming.MicroBatch.start]].
    *
    * foreachBatch applies the BATCH transform per micro-batch (= per file
    * with maxFilesPerTrigger=1). Two reasons over a streaming Transform:
    * (1) fidelity — the reference dedups WITHIN one CSV
    *     (scripts/transform.py:62), not across the directory's history;
    *     streaming dropDuplicates would dedup across every file ever seen.
    * (2) scale — streaming dropDuplicates keeps one state row per distinct
    *     link FOREVER (unbounded state growth); per-batch dedup holds no
    *     standing state at all.
    *
    * Each batch is already one partition: `maxFilesPerTrigger=1` gives it
    * one file, and a `multiLine` CSV read does not split a file. The batch
    * reaches [[Transform]] as `coalesce(1)`, which moves no row but lets
    * the planner see a single partition, which already satisfies the
    * dedup's clustering on link: no exchange is planned, and a file is one
    * job, one task and one JDBC connection (two jobs and two tasks with
    * the hash shuffle on link). What this gives up: with the shuffle, a
    * file whose deduped rows exceeded AQE's advisory partition size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, 64 MB) ran its
    * post-dedup work and its JDBC insert on more than one core; smaller
    * files were coalesced into one task by AQE anyway.
    */
  private def transformLeg(spark: SparkSession, rawDir: String,
      archiveDir: String, checkpoint: String, dumpDate: String,
      trigger: Trigger)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.start(
        arrivals(spark, PropertySchema.raw, rawDir, archiveDir),
        checkpoint, trigger) { (batch, batchId) =>
      sink(Transform(batch.coalesce(1), dumpDate), batchId)
    }

  /** Streaming form of [[runBatch]]: [[transformLeg]] appending parquet.
    *
    * Delivery: the checkpoint guarantees each file is PROCESSED once, but
    * the foreachBatch parquet append is not transactional with the offset
    * commit, so a crash between append and commit replays the batch —
    * AT-LEAST-ONCE into outDir. (The reference has the same window between
    * its S3 write and delete.) For exactly-once, point the batch writer at
    * a transactional table format or partition output by batch id and
    * overwrite.
    *
    * `Trigger.AvailableNow` = drain the backlog then stop (daily-batch
    * cadence); pass ProcessingTime for a resident pipeline.
    */
  def startStream(spark: SparkSession, rawDir: String, outDir: String,
      archiveDir: String, checkpoint: String, dumpDate: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    transformLeg(spark, rawDir, archiveDir, checkpoint, dumpDate, trigger) {
      (df, _) => df.write.mode("append").parquet(outDir)
    }

  /** TSV-with-header serialize sink. `singleFile` coalesces to one part to
    * mimic the reference's one-object-per-batch S3 layout; leave false at
    * scale so the write stays parallel.
    */
  def writeTsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.options(Tsv).mode("overwrite").csv(path)
  }

  /** Second pipeline stage (the reference's load DAG leg,
    * scripts/dag.py:61-69 + scripts/load_db.py:49-58): watch the
    * transformed-data directory, append each arriving TSV to the sink,
    * archive-and-remove the input.
    */
  def startLoadStream(spark: SparkSession, transformedDir: String,
      sinkDir: String, archiveDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.start(
        arrivals(spark, PropertySchema.transformed, transformedDir, archiveDir),
        checkpoint, trigger)(_.format("parquet").option("path", sinkDir))

  /** Timestamped object key (scripts/dag.py:39):
    * `raw_properties_<strftime %Y_%m_%d_%H%M%S in Europe/Prague>.csv`.
    * The instant is a parameter (not now()) so runs are deterministic.
    */
  def timestampedKey(prefix: String, at: java.time.Instant,
      zone: String = "Europe/Prague", suffix: String = ".csv"): String = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy_MM_dd_HHmmss")
      .withZone(java.time.ZoneId.of(zone))
    prefix + fmt.format(at) + suffix
  }

  /** The reference's dtype map (scripts/load_db.py:35-46): every mapped
    * string column is VARCHAR(255).
    */
  private val JdbcDtypeMap: String =
    "purpose VARCHAR(255), address VARCHAR(255), region VARCHAR(255), " +
      "design VARCHAR(255), link VARCHAR(255), dump_date VARCHAR(255), " +
      "file_name VARCHAR(255)"

  /** Spark's Derby dialect binds a NULL string as CLOB, which Derby rejects
    * against the VARCHAR(255) columns above (ERROR 22005), failing the
    * whole write. Registered dialects are consulted first, so this one
    * changes only the NULL bind type; the CLOB column definition for a
    * string column outside the map stays as it was.
    */
  private object DerbyNullStrings extends JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType => Some(JdbcType("CLOB", Types.VARCHAR))
      case _ => None
    }
  }
  JdbcDialects.registerDialect(DerbyNullStrings)

  /** JDBC append sink (the reference's load stage, scripts/load_db.py:32-47:
    * `to_sql(if_exists='append', dtype=...)`) via Spark's JDBC writer: the
    * first append creates the table with the dtype map, one connection per
    * partition — parallel, unlike the reference's single connection.
    */
  def loadToSink(df: DataFrame, jdbcUrl: String, table: String): Unit =
    df.write.format("jdbc")
      .option("url", jdbcUrl)
      .option("dbtable", table)
      .option("createTableColumnTypes", JdbcDtypeMap)
      .mode("append").save()

  /** Idempotent batch append into a JDBC table, keyed by `batchId`: any
    * rows a previous (crashed, replayed) attempt of the SAME batch left
    * behind are deleted first, then the batch appends with its batch_id
    * stamped on every row. foreachBatch replays the last uncommitted
    * micro-batch after a failure, so a plain append is AT-LEAST-once into
    * JDBC (the [[startStream]] scaladoc's window); delete-then-append
    * keyed by the replay-stable batchId makes the retry idempotent —
    * EXACTLY-once accumulation no matter how often the batch replays.
    * (The delete is a no-op on the happy path and on first creation.)
    *
    * The delete is one statement text with the id bound as a parameter,
    * so the database compiles it once, and it probes an index on
    * "batch_id" (created here if the table lacks it) instead of scanning
    * the whole table on every batch.
    *
    * batch_id is stamped by a zero-argument UDF, not `lit(batchId)`:
    * codegen writes a long literal into the Java source, so every batch's
    * post-shuffle stage would be a new class, compiled on the driver and
    * again on the executor. The UDF's value reaches the generated code as
    * a reference, and the column stays BIGINT NOT NULL.
    */
  def jdbcIdempotentAppend(df: DataFrame, jdbcUrl: String, table: String,
      batchId: Long): Unit = {
    val conn = DriverManager.getConnection(jdbcUrl)
    try {
      val meta = conn.getMetaData.getTables(null, null,
        table.toUpperCase(Locale.ROOT), null)
      val existed = try meta.next() finally meta.close()
      if (existed) {
        ensureBatchIndex(conn, table)
        // Spark's JDBC writer QUOTES column identifiers at create time, so
        // the column is case-sensitive lowercase "batch_id" — an unquoted
        // reference would normalize to BATCH_ID and miss it
        val st = conn.prepareStatement(
          s"""DELETE FROM $table WHERE "batch_id" = ?""")
        try { st.setLong(1, batchId); st.executeUpdate() }
        finally st.close()
      }
      val stamp = udf(() => batchId)
      loadToSink(df.withColumn("batch_id", stamp()), jdbcUrl, table)
      if (!existed) ensureBatchIndex(conn, table)
    } finally conn.close()
  }

  /** Creates an index on "batch_id" unless one already leads with it. */
  private def ensureBatchIndex(conn: Connection, table: String): Unit = {
    val rs = conn.getMetaData.getIndexInfo(null, null,
      table.toUpperCase(Locale.ROOT), false, true)
    val indexed = try {
      Iterator.continually(rs.next()).takeWhile(identity).exists { _ =>
        rs.getString("COLUMN_NAME") == "batch_id" &&
          rs.getShort("ORDINAL_POSITION") == 1
      }
    } finally rs.close()
    if (!indexed) {
      val st = conn.createStatement()
      try st.executeUpdate(
        s"""CREATE INDEX ${table}_batch_id ON $table ("batch_id")""")
      finally st.close()
    }
  }

  /** The FUSED pipeline the reference runs as two Airflow DAGs with an S3
    * handoff between them (scripts/dag.py:45-69 sensing + transform,
    * dag.py:61-69 + load_db.py:49-58 loading): file arrival → transform
    * chain → JDBC append, as ONE streaming query — the intermediate TSV
    * landing zone disappears because lineage replaces the XCom handoff.
    * [[transformLeg]] with the idempotent JDBC append as its sink, so the
    * whole leg is exactly-once END TO END: the checkpoint deduplicates
    * files across restarts, the batch-id key deduplicates rows across
    * micro-batch replays.
    */
  def startJdbcLoadStream(spark: SparkSession, rawDir: String,
      jdbcUrl: String, table: String, archiveDir: String, checkpoint: String,
      dumpDate: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    transformLeg(spark, rawDir, archiveDir, checkpoint, dumpDate, trigger) {
      (df, batchId) => jdbcIdempotentAppend(df, jdbcUrl, table, batchId)
    }
}
