package graft

import java.nio.file.{Files, Paths}

class QueriesSpec extends SparkSpec {

  test("registry invariants: unique names, oracles ⊆ queries, bench set nonempty") {
    assert(Queries.all.map(_.name).distinct.size == Queries.all.size)
    assert(Queries.oracleMap.keySet.subsetOf(Queries.queryMap.keySet))
    assert(Queries.benchSet.nonEmpty)
  }

  test("README query census equals the registry size (no drift)") {
    // the r10 verdict caught the README census lagging the registry; a
    // prose number nobody executes WILL rot — so execute it. The census
    // line reads "the registry hub: N named queries".
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val m = "registry hub: (\\d+) named queries".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README census line missing (expected " +
      "'the registry hub: N named queries')")
    assert(m.get.group(1).toInt == Queries.all.size,
      s"README census ${m.get.group(1)} != registry size ${Queries.all.size} " +
        "— update the README count and gloss the new queries")
  }

  test("every registry query name appears in the README inventory (no rot)") {
    // the census line pins the COUNT; this pins the NAMES — the r13 sweep
    // found 91 queries that had silently rotted out of the coverage map's
    // per-row lists across rounds. A new query now fails the suite until
    // its name lands in the README row it belongs to.
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val missing = Queries.all.map(_.name).filterNot(n => readme.contains(s"`$n`"))
    assert(missing.isEmpty,
      s"registry queries missing from README inventory: ${missing.mkString(", ")}")
  }

  test("entry() flagship returns rows on sf0.001 (driver smoke contract)") {
    assume(Files.exists(Paths.get("/root/testdata/sf0.001/lineitem.parquet")))
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL never relies on nondeterministic output order (ORDER BY present)") {
    Queries.all.flatMap(q => q.oracle.map(q.name -> _)).foreach { case (n, sql) =>
      assert(sql.toUpperCase.contains("ORDER BY"), s"$n oracle lacks ORDER BY")
    }
  }

  test("every registered query's output columns stay on the comparator whitelist") {
    // the driver's pandas comparator sorts/hashes output cells — complex
    // types are unhashable there (r5's only two red rows), and DECIMAL
    // cells hash differently from BIGINT even when every value matches
    // (ALL THREE r12 reds were raw DECIMAL(38,0) outputs). So the boundary
    // contract is a closed WHITELIST of leaf types the comparator provably
    // canonicalizes, not a blacklist that grows one red class at a time.
    // Working precision inside a query is unconstrained — decimals, arrays,
    // structs are fine mid-plan; they must be rendered (cast / array_join /
    // to_json) at the boundary. Plan construction stays lazy for the data
    // path; the only eager work is the model-backed queries publishing
    // their (tiny, sf0.001) training artifacts through ModelStore on first
    // touch.
    assume(Files.exists(Paths.get("/root/testdata/sf0.001/lineitem.parquet")))
    import org.apache.spark.sql.types._
    val allowed: Set[DataType] = Set(LongType, IntegerType, DoubleType,
      StringType, DateType, BooleanType, TimestampType)
    Queries.all.foreach { q =>
      val bad = q.fn(spark, "/root/testdata/sf0.001").schema.fields
        .filterNot(f => allowed.contains(f.dataType))
      assert(bad.isEmpty,
        s"${q.name} emits non-whitelisted output columns " +
          bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
          " — cast to BIGINT/DOUBLE/STRING (decimalBoundaryToLong for exact " +
          "decimals) or render complex types via array_join/to_json at the " +
          "query boundary")
    }
  }

  test("every registered query returns >= 1 row at sf0.01 (no vacuous greens)") {
    // a 0-row result matched by a 0-row oracle is a green row that
    // certifies nothing (r6: setop_except) — this guard makes vacuous
    // registrations fail loudly instead of accumulating silently
    assume(Files.exists(Paths.get("/root/testdata/sf0.01/lineitem.parquet")))
    val empty = Queries.all.flatMap { q =>
      val n = q.fn(spark, "/root/testdata/sf0.01").limit(1).count()
      if (n == 0) Some(q.name) else None
    }
    assert(empty.isEmpty, s"queries with 0 rows at sf0.01: ${empty.mkString(", ")}")
  }

  test("a rerun of sim_filtered_partitioned compiles no new code") {
    // adaptive execution numbers whole-stage pipelines in the order it
    // plans them; with the stage id in the class name, reruns of this
    // query compiled 38, 34 and 10 classes (GraftSession keeps it out)
    assume(Files.exists(Paths.get("/root/testdata/sf0.001/embeddings.parquet")))
    def run(): Unit = Queries.queryMap("sim_filtered_partitioned")(
        spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    run()
    val compiled = classesCompiledBy { run(); run(); run() }
    assert(compiled == 0L, s"three reruns compiled $compiled classes")
  }
}
