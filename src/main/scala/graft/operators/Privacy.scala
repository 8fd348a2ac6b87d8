package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.FixedPointSum.qsum

/** Privacy release gates. PII redaction (TextAnalysis.redactPii) removes
  * direct identifiers from text; this module covers the OTHER half of a
  * data-release review: quasi-identifier re-identification risk. A table
  * is k-anonymous over a set of quasi-identifier columns when every
  * combination of their values is shared by at least k rows (Sweeney,
  * 2002 — public literature); a group smaller than k is a
  * re-identification handle (join it with any external dataset carrying
  * the same quasi-identifiers and the members are pinned to ≤ k-1
  * candidates).
  *
  * Scale shape: ONE partial+final aggregate over the corpus — the
  * violation report is group-sized, never corpus-sized, and no row
  * content leaves the executors (only the quasi-identifier tuple and a
  * count). Choosing the quasi-identifier set is the caller's modeling
  * decision; this operator just makes the audit a one-pass query.
  */
object Privacy {

  /** Quasi-identifier groups with fewer than `k` members — empty result
    * ⇔ the table is k-anonymous over `quasiCols`. Strict inequality:
    * a group of exactly k satisfies k-anonymity.
    */
  def kAnonViolations(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "k-anonymity needs at least one quasi-identifier")
    require(k >= 2, "k < 2 makes every group compliant by definition")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** l-diversity violations (Machanavajjhala et al., 2007 — public
    * literature): quasi-identifier groups whose SENSITIVE attribute
    * takes fewer than `l` distinct values. k-anonymity alone leaves the
    * homogeneity attack open — a large group all sharing one sensitive
    * value discloses it for every member without identifying anyone;
    * distinct-l-diversity is the standard counter. Same one-aggregate
    * scale shape as the k check (the distinct count adds an Expand,
    * still one corpus pass; the report stays group-sized).
    */
  def lDiversityViolations(df: DataFrame, quasiCols: Seq[String],
                           sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "l-diversity needs at least one quasi-identifier")
    require(l >= 2, "l < 2 makes every group compliant by definition")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .filter(col("n_sensitive") < l)
  }

  /** t-closeness violations (Li, Li & Venkatasubramanian 2007 — public
    * literature): quasi-identifier groups whose SENSITIVE-attribute
    * distribution sits farther than `t` from the table-wide
    * distribution. l-diversity counts distinct values but is blind to
    * SKEW — a group that is 98% one diagnosis with a token sprinkle of
    * others passes distinct-l yet still discloses; t-closeness bounds
    * the distributional gap itself. Distance is the total-variation /
    * variational distance (= EMD under the uniform categorical ground
    * metric, the paper's categorical instantiation, and the same TVD
    * the drift monitor uses).
    *
    * Scale shape: ONE corpus scan. The (quasi × sensitive) contingency
    * table `gv` is the sufficient statistic — the global distribution q
    * is gv rolled up over the quasi columns and the grand total is its
    * grand sum — so gv is aggregated once (partial-aggregatable),
    * eagerly checkpointed (it is model-sized: observed groups × values),
    * and every downstream consumer reads the aggregate, never the
    * corpus. Remaining work: two group-sized rollups and a broadcast of
    * the |values|-sized global distribution. The absent-value mass is
    * folded in algebraically (TVD = ½(1 + Σ_present (|p−q| − q))), so
    * the join touches only OBSERVED (group, value) pairs — never the
    * dense group×vocabulary grid. The global-count anchor is a 1-row
    * bounded collect off gv (the ev_decay precedent). Null sensitive
    * values are EXCLUDED up front: they carry no distributional
    * information, and counting them into the total would silently
    * denormalize q (Σq < 1 skews every group's TVD instead of failing).
    *
    * Output: (quasiCols…, n, tvd) for groups with tvd > t (strict —
    * a group AT t is compliant, matching the paper's "at most t").
    */
  def tClosenessViolations(df: DataFrame, quasiCols: Seq[String],
                           sensitiveCol: String, t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "t-closeness needs at least one quasi-identifier")
    require(t >= 0.0 && t < 1.0, "t must be in [0, 1)")
    val gv = df.filter(col(sensitiveCol).isNotNull)
      .groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__n_vs"))
      .localCheckpoint(true) // the one corpus scan happens here
    // both rollups below produce the SAME integers the raw-corpus
    // aggregates did, so every double division — and the oracle hash —
    // is unchanged
    val nTotal = gv.agg(sum(col("__n_vs"))).collect()(0) match { // 1-row anchor
      case r if r.isNullAt(0) => 0.0 // empty input: result is empty anyway
      case r => r.getLong(0).toDouble
    }
    val q = gv.groupBy(col(sensitiveCol))
      .agg((sum(col("__n_vs")).cast("double") / lit(nTotal)).as("__qv"))
    // group totals as a whole-partition window over the ALREADY
    // aggregated (quasi × sensitive) table — one exchange by quasi on
    // model-sized rows, no join, and no broadcast of a table whose
    // cardinality is the quasi-group count (unbounded in general)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiCols.map(col): _*)
    gv.withColumn("__n", sum(col("__n_vs")).over(w))
      .join(broadcast(q), sensitiveCol)
      .select(quasiCols.map(col) :+ col("__n") :+
        (abs(col("__n_vs").cast("double") / col("__n").cast("double") - col("__qv"))
          - col("__qv")).as("__term"): _*)
      .groupBy(quasiCols.map(col): _*)
      .agg(max(col("__n")).as("n"),
        (lit(0.5) * (lit(1.0) + qsum(col("__term")))).as("__tvd"))
      .filter(col("__tvd") > t)
      .select(quasiCols.map(col) :+ col("n") :+
        round(col("__tvd"), 6).as("tvd"): _*)
  }
}
