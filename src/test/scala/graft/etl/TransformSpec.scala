package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.expr.AddressParts
import graft.schema.{Property, PropertySchema}

/** Golden end-to-end test of the full 13-step transform chain
  * (reference: scripts/transform.py:24-120): a hand-built raw fixture in
  * which every filter and derivation fires at least once, compared against
  * hand-computed expected rows. This is the test that would have caught the
  * round-1 keyword-list divergence.
  */
class TransformSpec extends SparkSpec {
  import spark.implicits._

  private val dump = "2026_08_12_080000"
  private val fname = "raw_properties_test.csv"

  // (id, purpose, address, size_m2, design, price_czk, link) — strings as
  // scraped: diacritics (transliterated by the chain) + NBSP in prices.
  private val rawRows = Seq(
    (1L, "Prodej bytu", "Vinohradská 12, Praha", "80 m2", "3+1", "5 000 000 Kč", "/a"),
    (2L, "Prodej bytu", "Vinohradská 12, Praha", "80 m2", "3+1", "9 999 999 Kč", "/a"), // dup link → dropped (keep id=1)
    (3L, "Prodej domu", "Vinohradská 12, Praha", "100 m2", "4+kk", "100 000 EUR", "/c"),          // EUR → dropped
    (4L, "Prodej bytu", "Vinohradská 12, Praha", "30 m2", "1+kk", "400 Kč", "/d"),                // < 500 → dropped
    (5L, "Pronájem domu", "Vinohradská 12, Praha", "90 m2", "3+1", "900 Kč", "/e"),               // rent-sane → dropped
    (6L, "Prodej chaty, chalupy", "Vinohradská 12, Praha", "60 m2", "2+kk", "15 000 Kč", "/f"),   // sale-sane → dropped
    (7L, "Pronájem bytu", "Nová 9, Bratislava, Bratislavský kraj", "50 m2", "2+kk", "900 Kč", "/g"), // region → dropped
    (8L, "Prodej pozemku", "Krátká 2, Olomouc, Olomoucký kraj", "1 m2", "", "90 000 Kč", "/h"),   // ppm2 cap → dropped
    (9L, "Prodej pozemku", "Krátká 2, Olomouc, Olomoucký kraj", "", "", "90 000 Kč", "/i"),       // size 0 → ppm2 NULL → kept
    (10L, "Pronájem garáže", "Václavské náměstí 1, Praha", "20 m2", "", "900 Kč", "/j"),          // NOT in rent list → kept
    (11L, "Pronájem bytu", "Náměstí Svobody 5, Brno, Jihomoravský kraj", "100 m2", "2+kk", "900 Kč", "/k")
  )

  private val expected = Set(
    Property("Prodej bytu", "Vinohradska 12, Praha", "Praha", 80, "3+1",
      5000000L, Some(62500), "/a", dump, fname),
    Property("Prodej pozemku", "Kratka 2, Olomouc", "Olomoucky kraj", 0, "",
      90000L, None, "/i", dump, fname),
    Property("Pronajem garaze", "Vaclavske namesti 1, Praha", "Praha", 20, "",
      900L, Some(45), "/j", dump, fname),
    Property("Pronajem bytu", "Namesti Svobody 5, Brno", "Jihomoravsky kraj", 100, "2+kk",
      900L, Some(9), "/k", dump, fname)
  )

  test("golden: full chain over the fixture (transform.py:24-120)") {
    val raw = rawRows.toDF("id", "purpose", "address", "size_m2", "design", "price_czk", "link")
    val out = Transform(raw, dump, Some(fname), dedupOrder = Some(col("id")))
    assert(out.columns.toSeq == Seq("purpose", "address", "region", "size_m2",
      "design", "price_czk", "price_per_m2", "link", "dump_date", "file_name"))
    val got = out.as[Property].collect().toSet
    assert(got == expected)
  }

  test("NULL address defaults region to Praha and keeps the row (when/otherwise semantics)") {
    val raw = Seq((1L, "Prodej bytu", null, "80 m2", "3+1", "5 000 000 Kc", "/n1"))
      .toDF("id", "purpose", "address", "size_m2", "design", "price_czk", "link")
    val out = Transform(raw, dump, Some(fname), dedupOrder = Some(col("id"))).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("region") == "Praha")
    assert(out(0).getAs[String]("address") == null)
  }

  test("dedup keeps the FIRST row per link (pandas keep='first', transform.py:62)") {
    val raw = rawRows.toDF("id", "purpose", "address", "size_m2", "design", "price_czk", "link")
    val kept = Transform(raw, dump, Some(fname), dedupOrder = Some(col("id")))
      .filter(col("link") === "/a").as[Property].collect()
    assert(kept.length == 1 && kept(0).price_czk == 5000000L)
  }

  test("chain is idempotent on already-clean data (filters keep everything)") {
    val raw = rawRows.toDF("id", "purpose", "address", "size_m2", "design", "price_czk", "link")
    val once = Transform(raw, dump, Some(fname), dedupOrder = Some(col("id")))
    // feed the surviving rows back through as raw strings
    val again = once.select(
      monotonically_increasing_id().as("id"),
      col("purpose"), concat_ws(", ", col("address"),
        when(col("region") =!= "Praha", col("region"))).as("address"),
      concat(col("size_m2").cast("string"), lit(" m2")).as("size_m2"),
      col("design"), concat(col("price_czk").cast("string"), lit(" Kc")).as("price_czk"),
      col("link"))
    val out2 = Transform(again, dump, Some(fname), dedupOrder = Some(col("id")))
    assert(out2.count() == once.count())
  }

  /** The raw columns with a leading nullable `id`, the dedup order. */
  private val rawWithId = StructType(
    StructField("id", LongType) +: PropertySchema.raw.fields.toSeq)

  /** Transform over both dedup paths: an arbitrary row, or the least id. */
  private def bothDedups(raw: DataFrame): Seq[DataFrame] = Seq(
    Transform(raw.drop("id"), dump, Some(fname)),
    Transform(raw, dump, Some(fname), dedupOrder = Some(col("id"))))

  test("an empty frame transforms to an empty frame of the canonical schema") {
    // reference rule: the chain's filters and its canonical column select
    // (scripts/transform.py:115-116) on an empty frame give an empty frame
    // with the ten columns
    val raw = spark.createDataFrame(new java.util.ArrayList[Row](), rawWithId)
    bothDedups(raw).foreach { out =>
      assert(out.schema.map(f => f.name -> f.dataType) ==
        PropertySchema.transformed.map(f => f.name -> f.dataType))
      assert(out.count() == 0L)
    }
  }

  test("a row whose every column is NULL is dropped; the row beside it is kept") {
    // reference rule: the currency filter (scripts/transform.py:66) keeps a
    // row only when its price is shown not to be in EUR. A NULL price
    // cannot be: under SQL WHERE semantics NOT contains(NULL, 'EUR') is
    // NULL and drops the row, as the DuckDB oracle's chain (`chainSql`)
    // does. pandas gives no answer to keep: `~` on the NaN that
    // str.contains returns for a missing price raises a TypeError, which
    // fails the whole file.
    val good = Row(1L, "Prodej bytu", "Vinohradská 12, Praha", "80 m2", "3+1",
      "5 000 000 Kč", "/a")
    val raw = spark.createDataFrame(java.util.Arrays.asList(
      good, Row(Seq.fill(7)(null): _*)), rawWithId)
    bothDedups(raw).foreach { out =>
      assert(out.as[Property].collect().toSeq == Seq(expected.find(_.link == "/a").get))
    }
  }

  test("AddressParts runs twice per kept row: in the pushed-down whitelist and in the projection") {
    // Catalyst pushes the region whitelist below the projection that
    // derives region, re-deriving address_parts(address) inside the
    // filter; the projection derives it once more for the rows that pass
    val raw = rawRows.toDF("id", "purpose", "address", "size_m2", "design", "price_czk", "link")
    bothDedups(raw).foreach { out =>
      val plan = out.queryExecution.optimizedPlan
      val n = plan.map(_.expressions.map(_.collect { case a: AddressParts => a }.size).sum).sum
      assert(n == 2, plan.treeString)
    }
  }

  test("validateWithReasons collects every violated rule; NULL predicates are violations") {
    val df = Seq(
      (1L, Option(2000L)), // passes both rules
      (2L, Option(100L)), // fails min_price only
      (3L, Option(5L)), // fails min_price and tiny
      (4L, Option.empty[Long]) // NULL: both predicates unevaluable → both violated
    ).toDF("id", "price")
    val out = Transform.validateWithReasons(df, Seq(
        "min_price" -> (col("price") >= 500),
        "tiny" -> (col("price") >= 10)))
      .select(col("id"), col("is_valid"), array_join(col("reasons"), ",").as("r"))
      .as[(Long, Boolean, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, true, ""),
      (2L, false, "min_price"),
      (3L, false, "min_price,tiny"),
      (4L, false, "min_price,tiny")))
  }
}
