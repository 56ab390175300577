package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the program: Bench, Verify and the test
  * session all start here, so they run the same configuration and differ
  * only in core count and directories.
  */
object GraftSession {
  /** Entries of Spark's compiled-code cache
    * (`spark.sql.codegen.cache.maxEntries`, 100 by default; a static conf,
    * so only the builder can set it). Spark compiles one class per distinct
    * generated source and keeps it in this cache, so at 100 a query's
    * classes are evicted by the next few queries and compiled again on its
    * next run. Measured class counts: a near-dup ingest run compiles about
    * 70, an analytics_mix round about 400, and one Bench pass over the
    * registry at sf0.001 about 4,500 (counted per query, so classes that
    * queries share are counted more than once). 8192 holds a whole pass,
    * with room for the cache evicting per segment before it is full.
    */
  private val CodegenCacheEntries = 8192

  /** `local[cores]` with one shuffle partition per core, UTC session time,
    * no UI, WARN logging and a codegen cache of [[CodegenCacheEntries]],
    * keyed on generated source that carries no stage id.
    *
    * Spark names each whole-stage class after its codegen stage id, and
    * adaptive execution numbers a query's stages in the order it plans
    * them, which follows the order its shuffle stages finish. So one
    * pipeline of one query got a different class name, a different source
    * and a cache miss on most reruns: sim_filtered_partitioned compiled
    * 38, 34 and 10 classes on its second to fourth run at sf0.001, and 0
    * once `spark.sql.codegen.useIdInClassName` is off. What that gives up:
    * a generated class's name no longer says which stage it is; the id is
    * still in the plan and in the class's source comment.
    * `warehouseDir` moves catalog writes (`saveAsTable`) out of the working
    * directory.
    */
  def apply(cores: Int, warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
