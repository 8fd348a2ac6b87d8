package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.FixedPointSum.{Quantum, qsum, qsumFx}

/** One-call corpus datasheet — the summary table a dataset release
  * review reads first ("Datasheets for Datasets", Gebru et al. 2021 —
  * public literature): volume, composition, duplication, quality and
  * PII exposure as (metric, value) rows. Every number here is an
  * already-shipped graft primitive; the operator's job is to make "what
  * is this corpus" ONE call with ONE deterministic answer instead of a
  * notebook of ad-hoc scans.
  *
  * Scale shape: ONE corpus pass — the quality features and PII counts
  * are both map-only projections, so they CHAIN over the same scan (no
  * per-doc join, no shuffle before the aggregate); counts and long
  * sums are exact and partial-aggregatable, the distinct counts plan
  * through Expand, the one float mean rides the fixed-point qsum grid,
  * and the result is 9 rows. No windows, no driver collects beyond the
  * result.
  */
object CorpusReport {

  /** (metric, value) datasheet rows: n_docs, n_chars_total,
    * n_tokens_total, n_langs, n_sources, exact_dup_rate, mean_quality,
    * pii_doc_rate, mean_tokens_per_doc.
    */
  def datasheet(df: DataFrame, textCol: String, idCol: String,
                langCol: String, sourceCol: String): DataFrame = {
    // both featurizers are map-only withColumns — chained, they stay one
    // projection over one scan (a per-doc join here would shuffle the
    // corpus twice for nothing)
    val per = TextAnalysis.redactPii(
      TextAnalysis.quality(df, textCol, idCol), textCol, idCol)
    val one = per.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars_total"),
      sum(col("n_tokens")).as("n_tokens_total"),
      countDistinct(col(langCol)).as("n_langs"),
      countDistinct(col(sourceCol)).as("n_sources"),
      countDistinct(md5(col(textCol))).as("n_unique_texts"),
      qsum(col("quality_score")).as("q_sum"),
      sum(((col("n_emails") + col("n_ips") + col("n_phones")) > 0)
        .cast("long")).as("n_pii_docs"))
    def m(name: String, v: Column) =
      struct(lit(name).as("metric"), v.as("value"))
    val nD = col("n_docs").cast("double")
    one.select(explode(array(
        m("n_docs", nD),
        m("n_chars_total", col("n_chars_total").cast("double")),
        m("n_tokens_total", col("n_tokens_total").cast("double")),
        m("n_langs", col("n_langs").cast("double")),
        m("n_sources", col("n_sources").cast("double")),
        m("exact_dup_rate",
          round(lit(1.0) - col("n_unique_texts").cast("double") / nD, 6)),
        m("mean_quality", round(col("q_sum") / nD, 6)),
        m("pii_doc_rate", round(col("n_pii_docs").cast("double") / nD, 6)),
        m("mean_tokens_per_doc",
          round(col("n_tokens_total").cast("double") / nD, 6))))
        .as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
  }

  /** MERGEABLE per-drop datasheet partial — ONE row per drop holding the
    * sufficient statistics of [[datasheet]]: exact counts and the exact
    * fixed-point quality sum, plus DataSketches HLL register sets
    * (BINARY) for the three distinct counts (langs, sources, unique
    * texts). Persist one row per ingested drop (plain parquet); the
    * corpus-wide datasheet after the Nth drop is then
    * [[datasheetFromSketches]] over N rows — a model-sized merge, never
    * a re-scan. Same one-pass chained-featurizer scan as [[datasheet]].
    */
  def datasheetSketch(df: DataFrame, textCol: String, idCol: String,
                      langCol: String, sourceCol: String): DataFrame = {
    val per = TextAnalysis.redactPii(
      TextAnalysis.quality(df, textCol, idCol), textCol, idCol)
    per.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars_total"),
      sum(col("n_tokens")).as("n_tokens_total"),
      hll_sketch_agg(col(langCol).cast("string")).as("langs_hll"),
      hll_sketch_agg(col(sourceCol).cast("string")).as("sources_hll"),
      hll_sketch_agg(md5(col(textCol))).as("texts_hll"),
      qsumFx(col("quality_score")).as("q_sum_fx"),
      sum(((col("n_emails") + col("n_ips") + col("n_phones")) > 0)
        .cast("long")).as("n_pii_docs"))
  }

  /** Merge [[datasheetSketch]] partials into ONE still-mergeable partial
    * — the [[SketchStore.compact]] primitive for the datasheet family:
    * exact sums (the fixed-point quality sum re-associates without
    * error), register-wise HLL unions. Output schema =
    * [[datasheetSketch]] output schema.
    */
  def mergeDatasheetPartials(partials: DataFrame): DataFrame =
    partials.agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_chars_total")).as("n_chars_total"),
      sum(col("n_tokens_total")).as("n_tokens_total"),
      hll_union_agg(col("langs_hll")).as("langs_hll"),
      hll_union_agg(col("sources_hll")).as("sources_hll"),
      hll_union_agg(col("texts_hll")).as("texts_hll"),
      sum(col("q_sum_fx")).as("q_sum_fx"),
      sum(col("n_pii_docs")).as("n_pii_docs"))

  /** Merge [[datasheetSketch]] partials into the [[datasheet]] output
    * shape. Counts, sums, rates and the quality mean merge EXACTLY (the
    * fixed-point decimal sum re-associates without error); the three
    * distinct-backed metrics (n_langs, n_sources, exact_dup_rate) are
    * HLL-union estimates — CorpusReportSpec pins merged-drops ≡
    * whole-corpus within the sketch tolerance, exactly elsewhere.
    */
  def datasheetFromSketches(partials: DataFrame): DataFrame = {
    val one = partials.agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_chars_total")).as("n_chars_total"),
      sum(col("n_tokens_total")).as("n_tokens_total"),
      hll_sketch_estimate(hll_union_agg(col("langs_hll"))).as("n_langs"),
      hll_sketch_estimate(hll_union_agg(col("sources_hll"))).as("n_sources"),
      hll_sketch_estimate(hll_union_agg(col("texts_hll"))).as("n_unique_texts"),
      (sum(col("q_sum_fx")).cast("double") / lit(Quantum)).as("q_sum"),
      sum(col("n_pii_docs")).as("n_pii_docs"))
    def m(name: String, v: Column) =
      struct(lit(name).as("metric"), v.as("value"))
    val nD = col("n_docs").cast("double")
    one.select(explode(array(
        m("n_docs", nD),
        m("n_chars_total", col("n_chars_total").cast("double")),
        m("n_tokens_total", col("n_tokens_total").cast("double")),
        m("n_langs", col("n_langs").cast("double")),
        m("n_sources", col("n_sources").cast("double")),
        m("exact_dup_rate",
          round(lit(1.0) - col("n_unique_texts").cast("double") / nD, 6)),
        m("mean_quality", round(col("q_sum") / nD, 6)),
        m("pii_doc_rate", round(col("n_pii_docs").cast("double") / nD, 6)),
        m("mean_tokens_per_doc",
          round(col("n_tokens_total").cast("double") / nD, 6))))
        .as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
  }
}
