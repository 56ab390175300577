package graft

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

import graft.queries.Q

/** Bench's timed run as the recorder sees it: jobs split by job group,
  * a digest walked from the write's final plan, counters complete as soon
  * as the listener bus is drained.
  */
class RecorderSpec extends SparkSpec with BeforeAndAfterAll {
  private lazy val recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    r
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(recorder)
    super.afterAll()
  }

  private def timed(fn: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame) = {
    val r = Bench.timeOne(spark, recorder, Q("probe", (s, _) => fn(s), None), "")
    assert(r.ok)
    r
  }

  test("jobs fired inside fn are build jobs; a lazy query has none") {
    val eager = timed(_.range(0, 1000, 1, 4).localCheckpoint().select(col("id") * 2))
    val l = eager.layers
    assert(l.buildJobs >= 1)
    assert(l.jobs > l.buildJobs)
    assert(l.digest.get("checkpoint_scan") == 1)
    // the three layers add up to the timed seconds (each rounded to 1 ms)
    assert(math.abs(l.buildS + l.planS + l.execS - eager.sec) < 0.005)

    val lzy = timed(_.range(0, 1000, 1, 4).select(col("id") * 2)).layers
    assert(lzy.buildJobs == 0)
    assert(lzy.jobs >= 1)
    assert(lzy.digest.get("checkpoint_scan") == 0)
  }

  test("the digest of a one-shuffle groupBy reads exactly one Exchange") {
    val r = timed(_.range(0, 1000, 1, 4).groupBy(col("id") % 7).count())
    val d = r.layers.digest.get
    assert(d("exchange") == 1)
    assert(d("sort_merge_join") == 0)
    // the plan file agrees: the final plan only, not the initial one too
    val plan = r.plan.get
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Initial Plan"), plan)
  }

  test("counters are complete right after the drain") {
    val l = timed(_.range(0, 4000, 1, 40).select(col("id") + 1)).layers
    assert(l.jobs == 1)
    assert(l.stages == 1)
    assert(l.tasks == 40)
    assert(l.slowestStages.map(_.tasks) == Seq(40))
  }
}
