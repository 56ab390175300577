package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Which prior records a Bench run compares against and where it writes
  * its own: records are matched on scale factor AND core count, and a run
  * at another core count than 32 is named for it.
  */
class BenchHistorySpec extends AnyFunSuite {

  private def dir(): File = Files.createTempDirectory("graft_bench_history").toFile
  private def write(d: File, name: String, json: String): Unit =
    Files.writeString(new File(d, name).toPath, json)
  private def hist(tag: String, cores: Option[Int], secs: Double): String =
    s"""{"sf":"sf0.1","tag":"$tag",${cores.fold("")(c => s""""cores":$c,""")}""" +
      s""""final":true,"total":$secs,"queries":{"q1":$secs,"q2":$secs}}"""

  /** The repository's layout: the official BENCH records (no per-query
    * map since r14), the c32 round-15 maps, the renamed c8 map. */
  private def layout(): (File, File) = {
    val bench, h = dir()
    write(bench, "BENCH_r15.json",
      """{"n":15,"cpus":32,"sf":0.1,"parsed":{"sf":"sf0.1"}}""")
    write(bench, "BENCH_r15_c8.json",
      """{"n":15,"cpus":8,"sf":0.1,"parsed":{"sf":"sf0.1"}}""")
    write(h, "r15_sf0.1.json", hist("r15", None, 1.0))
    write(h, "r15_sf0.1_c8.json", hist("r15", Some(8), 2.0))
    write(h, "r15_sf0.01.json",
      """{"sf":"sf0.01","tag":"r15","queries":{"q1":0.5}}""")
    write(h, "dev14_sf0.1.json", hist("dev14", None, 1.5))
    (bench, h)
  }

  test("r15_sf0.1.json is the previous side of a c32 sf0.1 run in round 16") {
    val (bench, h) = layout()
    assert(Bench.prevRecord(bench, h, Some(16), "sf0.1", 0.1, 32).map(_._1) ==
      Some("r15_sf0.1.json"))
    assert(Bench.prevRecord(bench, h, Some(16), "sf0.1", 0.1, 8).map(_._1) ==
      Some("r15_sf0.1_c8.json"))
    // own round and later never compare
    assert(Bench.prevRecord(bench, h, Some(15), "sf0.1", 0.1, 32).isEmpty)
  }

  test("an 8-core record is never the vs_prev side or a load reference of a 32-core run") {
    val (bench, h) = layout()
    // a c8 map under a c32 name (as r16_sf0.1.json once was): its "cores"
    // field still rules it out
    write(h, "r16_sf0.1.json", hist("r16", Some(8), 3.0))
    assert(Bench.prevRecord(bench, h, Some(17), "sf0.1", 0.1, 32) ==
      Some("r15_sf0.1.json" -> Map("q1" -> 1.0, "q2" -> 1.0)))
    assert(Bench.prevRecord(bench, h, Some(17), "sf0.1", 0.1, 8).map(_._1) ==
      Some("r16_sf0.1.json"))

    val details = dir()
    write(details, "bench_detail_100.json",
      """{"sf":"/data/sf0.1","cores":8,"pass1":{"q1":4.0},"pass2":{"q1":3.0}}""")
    write(details, "bench_detail_200.json",
      """{"sf":"/data/sf0.1","pass1":{"q1":4.0},"pass2":{"q1":3.0}}""")
    write(details, "bench_detail_300.json",
      """{"sf":"/data/sf0.1","pass1":{"q1":4.0},"pass2":{"q1":3.0}}""")
    val c32 = Bench.loadRefs(details, h, "300", "sf0.1", 32).toMap
    assert(c32.keySet ==
      Set("bench_detail_200.json", "r15_sf0.1.json", "dev14_sf0.1.json"))
    assert(c32("bench_detail_200.json") == Map("q1" -> 3.0))
    assert(Bench.loadRefs(details, h, "300", "sf0.1", 8).map(_._1).toSet ==
      Set("bench_detail_100.json", "r15_sf0.1_c8.json", "r16_sf0.1.json"))
  }

  test("history path: _c<cores> off 32, none for an ONLY run or an unknown round") {
    val h = dir()
    assert(Bench.historyFile(h, Some(16), only = false, "sf0.1", 32) ==
      Some(new File(h, "r16_sf0.1.json")))
    assert(Bench.historyFile(h, Some(16), only = false, "sf0.1", 8) ==
      Some(new File(h, "r16_sf0.1_c8.json")))
    assert(Bench.historyFile(h, Some(16), only = true, "sf0.1", 32).isEmpty)
    assert(Bench.historyFile(h, None, only = false, "sf0.1", 32).isEmpty)
  }

  test("ONLY selects from the whole registry and names the known queries on a typo") {
    val offBench = Queries.all.find(!_.bench).get.name
    assert(Bench.selectQueries(Some(s"$offBench, agg_tpch_q1_shape")).map(_.name) ==
      Seq(offBench, "agg_tpch_q1_shape"))
    assert(Bench.selectQueries(None) == Queries.benchSet)
    val e = intercept[IllegalArgumentException](Bench.selectQueries(Some("no_such_query")))
    assert(e.getMessage.contains("no_such_query") && e.getMessage.contains(offBench))
  }
}
