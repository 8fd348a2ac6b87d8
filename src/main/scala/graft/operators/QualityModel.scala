package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.FixedPointSum.qsum

/** Trained quality filtering: a linear scorer learned DISTRIBUTIVELY by
  * Newton's method — the fasttext-style "train a cheap linear model,
  * score the whole corpus map-only" pattern (here distilling the
  * rule-based `TextAnalysis.quality` heuristic into a calibrated score).
  *
  * Distributed shape, per iteration: the current weights enter the
  * plan as LITERALS (broadcast-by-plan), per-row gradient/Hessian terms
  * are codegen'd expressions, and their SUMS are one partial+final
  * HashAggregate — the only thing crossing the wire is O(d²) numbers per
  * task; the driver solves the bounded (d+1)-dim Newton system. The
  * feature matrix is computed once and cached; plan depth is constant
  * across iterations (weights are literals, not lineage).
  *
  * Every operation in training is EXACTLY replayable in ANSI SQL — the
  * design constraint that lets the driver's DuckDB oracle hash-check the
  * trained scores, not just spec-pin them:
  *
  *  - The link is the exp-free rational "Elliot" sigmoid
  *    σ(z) = ½·(1 + z/(1+|z|)): +, −, ×, ÷, abs are IEEE-754 ops with
  *    bit-identical results in every engine, unlike exp(), whose last-ulp
  *    rounding is libm-specific and would diverge the gradient sums.
  *  - Aggregates use FIXED-POINT funnels, not double sums and not
  *    double→decimal casts: each per-row term is clamped to ±1e6,
  *    quantized by floor(term·1e12) (floor of a double is exactly
  *    representable — engine-free), and summed exactly as DECIMAL(38,0).
  *    This gives order-free determinism (training is bit-identical under
  *    ANY partitioning — the decimal-funnel guarantee) AND engine-free
  *    determinism (a double→DECIMAL(38,18) cast of a non-integral double
  *    rounds via Double.toString in Spark, via the binary expansion
  *    elsewhere — the floor-quantized integer never hits that path).
  *  - The Newton system is solved by Gaussian elimination in FIXED order,
  *    no pivoting: the ridged Hessian X'RX + λI is symmetric positive
  *    definite (r > 0), for which elimination without pivoting is
  *    numerically stable — and a fixed operation sequence is replayable
  *    as unrolled scalar SQL, where data-dependent pivot choices are not.
  *
  * Newton objective: with A'(z) = σ(z), iterating g = X'(y − p),
  * H = X'·diag(σ′(z))·X is exact Newton for the canonical-form loss
  * Σ A(zᵢ) − yᵢzᵢ (for the logistic link this reduces to the familiar
  * r = p(1−p); for the Elliot link σ′(z) = ½/(1+|z|)²).
  */
object QualityModel {

  /** Standardized feature matrix + distilled binary label over documents:
    * features from the rule-based quality pass, label = the heuristic's
    * own accept/reject decision (quality_score above `threshold`).
    */
  def featureTable(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.45): DataFrame = {
    // the heuristic quality pass (tokenize + per-doc aggregates) runs
    // ONCE: unmaterialized it re-executes for the scaler aggregate below,
    // for train()'s persist AND for score()'s map pass — three corpus
    // passes for one table (r15). Eager localCheckpoint, blocks reclaimed
    // with the result (no unpersist site — the frame is returned lazily).
    val q = TextAnalysis.quality(df, textCol, idCol)
      .select(col(idCol), col("unique_ratio"), col("stopword_ratio"),
        col("mean_token_len"), (col("n_tokens").cast("double") / 100.0).as("len_scaled"),
        (col("quality_score") > threshold).cast("double").as("label"))
      .localCheckpoint(true)
    // standardize: (x - mean) / std, moments through the fixed-point
    // funnel so every partitioning AND every engine sees the identical
    // scaler
    val feats = Seq("unique_ratio", "stopword_ratio", "mean_token_len", "len_scaled")
    val stats = q.select(feats.flatMap(f => Seq(
      qsum(col(f)).as(s"s_$f"),
      qsum(col(f) * col(f)).as(s"ss_$f"))) :+
      count(lit(1)).cast("double").as("n"): _*).head()
    val n = stats.getAs[Double]("n")
    feats.zipWithIndex.foldLeft(q) { case (acc, (f, i)) =>
      val mean = stats.getAs[Double](s"s_$f") / n
      val variance = math.max(stats.getAs[Double](s"ss_$f") / n - mean * mean, 1e-12)
      acc.withColumn(f, (col(f) - lit(mean)) / lit(math.sqrt(variance)))
    }
  }

  /** Rational (Elliot) sigmoid — exp-free, bit-identical across engines. */
  private def sigmoid(z: Column): Column =
    lit(0.5) * (lit(1.0) + z / (lit(1.0) + abs(z)))

  /** σ′(z) = ½/(1+|z|)² — the Newton weight for the Elliot link. */
  private def linkDeriv(z: Column): Column =
    lit(0.5) / ((lit(1.0) + abs(z)) * (lit(1.0) + abs(z)))

  /** Distributed Newton's method: each iteration is ONE partial+final
    * aggregate computing the gradient `X'(y − p)` AND the Hessian
    * `X'RX` (R = diag(σ′(z))) together — (d+1)(d+4)/2 fixed-point sums
    * cross the wire per task — and the driver solves the bounded
    * (d+1)×(d+1) system. Quadratic convergence: ~5 iterations where
    * first-order GD needs dozens of jobs. `ridge` regularizes the solve
    * against separation-degenerate Hessians (declared semantics).
    */
  def train(features: DataFrame, featureCols: Seq[String], labelCol: String,
            iters: Int = 5, ridge: Double = 1e-6): Array[Double] = {
    val cached = features.persist()
    val d = featureCols.length + 1 // + bias
    var w = Array.fill(d)(0.0)
    for (_ <- 0 until iters) {
      val margin = featureCols.zipWithIndex
        .map { case (f, i) => col(f) * lit(w(i)) }
        .reduce(_ + _) + lit(w.last)
      val p = sigmoid(margin) // codegen'd
      val r = linkDeriv(margin)
      val x: Int => Column = i => if (i == d - 1) lit(1.0) else col(featureCols(i))
      val gCols = (0 until d).map(i => qsum((col(labelCol) - p) * x(i)))
      val hCols = for (i <- 0 until d; j <- i until d) yield qsum(r * x(i) * x(j))
      val row = cached.select(gCols ++ hCols: _*).head()
      val g = Array.tabulate(d)(row.getDouble)
      val h = Array.ofDim[Double](d, d)
      var idx = d
      for (i <- 0 until d; j <- i until d) {
        h(i)(j) = row.getDouble(idx); h(j)(i) = h(i)(j); idx += 1
      }
      (0 until d).foreach(i => h(i)(i) += ridge)
      w = w.zip(solve(h, g)).map { case (a, b) => a + b }
    }
    cached.unpersist()
    w
  }

  /** Gaussian elimination in FIXED order (no pivoting) on the bounded
    * Newton system: the ridged Hessian is symmetric positive definite,
    * for which pivot-free elimination is stable — and the fixed op
    * sequence is what the oracle replays as unrolled scalar SQL.
    * Deterministic for identical inputs, which the fixed-point sums
    * guarantee under any partitioning.
    */
  private def solve(h0: Array[Array[Double]], g0: Array[Double]): Array[Double] = {
    val n = g0.length
    val a = h0.map(_.clone())
    val b = g0.clone()
    for (c <- 0 until n) {
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        for (k <- c until n) a(r)(k) -= f * a(c)(k)
        b(r) -= f * b(c)
      }
    }
    val xs = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = b(r)
      for (k <- r + 1 until n) s -= a(r)(k) * xs(k)
      xs(r) = s / a(r)(r)
    }
    xs
  }

  /** Map-only corpus scoring under a trained model. */
  def score(features: DataFrame, featureCols: Seq[String],
            weights: Array[Double]): DataFrame = {
    val margin = featureCols.zipWithIndex
      .map { case (f, i) => col(f) * lit(weights(i)) }
      .reduce(_ + _) + lit(weights.last)
    features.withColumn("score", sigmoid(margin))
      .withColumn("predicted", (col("score") >= 0.5).cast("int"))
  }

  val defaultFeatures: Seq[String] =
    Seq("unique_ratio", "stopword_ratio", "mean_token_len", "len_scaled")
}
