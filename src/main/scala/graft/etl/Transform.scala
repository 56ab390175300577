package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.Transliterate
import graft.schema.PropertySchema

/** The reference's core "query": its 13-step eager pandas pipeline
  * (scripts/transform.py:24-120) re-expressed as ONE lazy DataFrame chain.
  *
  * The chain is built in seven plan steps, one projection or filter per
  * stage, not one Dataset per column or rule: Spark analyzes each Dataset
  * as it is built, and on one generated day's input ~30 chained
  * `withColumn`/`filter` steps took 44–63 ms per call to build against
  * 11–19 ms for these seven, a cost every micro-batch of the daily leg
  * pays. Catalyst fuses the steps on each side of the dedup into
  * whole-stage-codegen'd stages. The dedup is the one step that needs its
  * rows clustered by link: a hash-partition shuffle on the dedup key,
  * unless the input is already one partition (`Pipeline`'s per-file leg),
  * where the whole chain runs in one task with no exchange. The reference
  * materializes 13 full intermediate frames.
  */
object Transform {

  /** Input: raw 6-string-column frame (PropertySchema.raw). Output: the
    * canonical 10-column transformed frame (PropertySchema.transformed).
    *
    * Stage order is reference-faithful: transliterate (extract.py:45 runs
    * unidecode at extract time) → dedup on link (transform.py:62) → NBSP
    * normalize (transform.py:63) → filters/derivations.
    *
    * @param dumpDate injected batch timestamp literal ("yyyy_MM_dd_HHmmss");
    *                 a literal rather than current_timestamp() so that runs
    *                 are deterministic and oracle-comparable (SURVEY.md §7.5).
    * @param fileName source-file lineage value. Pass None to derive the true
    *                 per-row source via input_file_name() — strictly more
    *                 general than the reference's single-file constant
    *                 (scripts/transform.py:112).
    * @param dedupOrder pandas drop_duplicates keeps the FIRST row in frame
    *                 order (transform.py:62); Spark has no row order, so
    *                 pass a stable ordering column to keep the minimum —
    *                 deterministic, oracle-comparable output. None keeps an
    *                 arbitrary row (fine when duplicate scrapes are
    *                 identical ads, NOT bit-stable otherwise).
    */
  def apply(raw: DataFrame, dumpDate: String, fileName: Option[String] = None,
      dedupOrder: Option[Column] = None): DataFrame = {
    val strCols = raw.schema.fields.filter(_.dataType.typeName == "string").map(_.name)

    // unidecode at extract time (scripts/extract.py:45), every string
    // column, plus the per-row source file, taken in the scan stage: above
    // the dedup's shuffle input_file_name() no longer knows the file and
    // returns ''
    val lineage =
      if (fileName.isEmpty) Map("file_name" -> Parse.baseName(input_file_name()))
      else Map.empty[String, Column]
    val translit = raw.withColumns(
      strCols.map(c => c -> Transliterate(col(c))).toMap ++ lineage)

    // dedup by ad URL (scripts/transform.py:62). Deterministic keep-first =
    // min_by over the ordering column: partial aggregation combines
    // duplicates map-side BEFORE the exchange, so the shuffle carries one
    // row per (partition, link) — strictly less IO than a row_number window,
    // which must shuffle every row and then sort each partition.
    //
    // Why NOT the thin-agg + semi-join rewrite (min(ord) per link, then a
    // semi-join back on ord): measured 3x SLOWER on the full chain at
    // sf0.1 (12 s vs 3.9 s, ProbeChain r7). Filters push freely through a
    // semi-join's probe side, so Catalyst sinks the chain's downstream
    // predicates BELOW the dedup and re-derives their expensive inputs
    // (transliterate / address_parts / digits_only) inside every
    // predicate, per pre-dedup row. min_by(struct) is not hash-aggregable
    // (Spark plans a SortAggregate) but the aggregate is a filter-pushdown
    // BARRIER: the costly string work runs above it, on deduped rows
    // only, which dominates the sort cost by far. Measure the whole chain,
    // not the operator in isolation.
    val deduped = dedupOrder match {
      case Some(ord) =>
        val cols = translit.columns
        translit.groupBy(col("link").as("__k"))
          .agg(min_by(struct(cols.map(col).toIndexedSeq: _*), ord).as("__r"))
          .select("__r.*")
      case None => translit.dropDuplicates("link")
    }

    // NBSP normalize on all string columns (scripts/transform.py:63)
    val normalized = deduped.withColumns(
      strCols.map(c => c -> Parse.normalizeNbsp(col(c))).toMap)

    normalized
      // currency filter: drop Slovak EUR listings (scripts/transform.py:66)
      .filter(!col("price_czk").contains("EUR"))
      .withColumns(Map(
        // strip 'Kc', digits-only parse (scripts/transform.py:67-68)
        "price_czk" -> Parse.digitsToLong(col("price_czk")),
        // size: strip 'm2', coerce, 0-fill (scripts/transform.py:76-78)
        "size_m2" -> Parse.sizeToInt(col("size_m2")),
        // region derive + address rewrite (scripts/transform.py:81-91):
        // AddressParts computes both from ONE split (the Column forms
        // split the address four times)
        "__ap" -> graft.expr.AddressParts(col("address"))))
      // canonical column order (scripts/transform.py:115-116)
      .select(
        col("purpose"),
        col("__ap.address").as("address"),
        // NULL address: the expression null-propagates, but the
        // reference's when/otherwise semantics default region to Praha and
        // keep the address NULL — coalesce restores that (and oracle parity)
        coalesce(col("__ap.region"), lit("Praha")).as("region"),
        col("size_m2"),
        col("design"),
        col("price_czk"),
        // price_per_m2, NULL when size 0 (scripts/transform.py:96-102)
        Parse.pricePerM2(col("price_czk"), col("size_m2")).as("price_per_m2"),
        col("link"),
        // batch metadata (scripts/transform.py:106-112)
        lit(dumpDate).as("dump_date"),
        fileName.fold(col("file_name"))(lit).as("file_name"))
      // the keep-filters as one predicate: min-price floor
      // (scripts/transform.py:71), rent/sale sanity (:72-73), region
      // whitelist (:92) and land cap (:103). Catalyst pushes this filter
      // below the projections and re-derives `region` inside it from its
      // own address_parts(address): AddressParts runs once in the filter
      // for every row that reaches it and once more in the projection for
      // every row that passes (TransformSpec pins the count).
      .filter(col("price_czk") >= 500 &&
        Parse.keepRentSane(col("purpose"), col("price_czk")) &&
        Parse.keepSaleSane(col("purpose"), col("price_czk")) &&
        col("region").isin(PropertySchema.czechRegions: _*) &&
        Parse.keepLandCap(col("purpose"), col("price_per_m2")))
  }

  /** Validation with a quarantine verdict instead of silent drops: every
    * row keeps an array of the rule names it VIOLATES plus an `is_valid`
    * flag. The reference's sanity filters (scripts/transform.py:63-73)
    * discard rows without a trace; production pipelines route rejects to
    * a dead-letter table with the reason attached so upstream breakage is
    * observable — this is that routing decision as a narrow projection
    * (no shuffle; split into valid/quarantine frames with two filters on
    * the same lazy plan).
    *
    * A rule whose predicate evaluates to NULL counts as a VIOLATION: an
    * unevaluable sanity check means the row's data was malformed for that
    * rule, which is precisely what quarantine exists to surface.
    */
  def validateWithReasons(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "validateWithReasons needs at least one rule")
    val verdicts = rules.map { case (name, keep) =>
      when(!coalesce(keep, lit(false)), lit(name)).otherwise(lit(null).cast("string"))
    }
    df.withColumn("reasons", filter(array(verdicts: _*), _.isNotNull))
      .withColumn("is_valid", size(col("reasons")) === 0)
  }
}
