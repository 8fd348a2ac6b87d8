package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.FixedPointSum.{Clamp, Quantum, qsum, qsumLocal}

/** PCA over an embedding column, by power iteration on the covariance
  * matrix — the embedding-space diagnostic a training pipeline runs
  * before trusting vectors at scale (dominant-direction drift, collapsed
  * dimensions, whitening input). Public algorithm: power iteration with
  * Hotelling deflation is textbook numerical linear algebra (Golub & Van
  * Loan); no library dependency.
  *
  * Everything corpus-sized is RELATIONAL; the d-BOUNDED artifacts (the
  * means vector, the iterated component) live on the driver and fold
  * into each pass as array literals — the Clustering.kmeans "broadcast
  * the centers" move (r15; previously each round was a join + crossJoin
  * + checkpoint over model-sized frames, ~5 scheduler round-trips per
  * iteration for 64-row data):
  *   - `flat`: posexplode to (id, i, x) — N·d rows, one scan.
  *   - means: d grouped fixed-point sums, one bounded collect.
  *   - covariance: by default ONE [[graft.functions.GramianAgg]] pass
  *     (d²/2 primitive adds per row into a 128-bit fixed-point buffer;
  *     the exchange is one model-sized buffer per partition); the
  *     equivalent relational self-join of `flat` on id remains as the
  *     SQL-oracle anchor (`gramian = false`) and is pinned bit-equal in
  *     PcaSpec. C = Σxy/n − mᵢmⱼ either way (means as literal).
  *   - power iteration: `iters` rounds, each ONE aggregate-collect job
  *     over the d²-row matrix with v as a literal; norm and division on
  *     the driver replicate the distributed grid exactly
  *     ([[graft.functions.FixedPointSum.qsumLocal]]).
  *   - deflation (second component): λ₁ = v₁ᵀCv₁ via one more literal
  *     mat-vec + driver fixed-point dot; C₂ = C − λ₁·v₁v₁ᵀ is a map-only
  *     projection of C; iterate again on C₂.
  *   - projection: ONE grouped pass over flat with means/components as
  *     literals — exact-integer sums (quantized BIGINT terms, order-free
  *     without decimals), no join.
  *
  * Determinism: cross-row sums go through the fixed-point qsum grid; the
  * per-element ops (double ·, −, /, sqrt) are IEEE-754 correctly rounded
  * in every engine; v₀ = 1/√d is a fixed literal. The oracle replays the
  * identical relational algorithm in SQL, so the trained components — not
  * just the scoring — are hash-checked. Power-iteration caveat (inherent,
  * not an implementation gap): if an eigenvalue is degenerate or v₀ is
  * orthogonal to the target eigenvector, the iteration converges slowly
  * or to another component — with real data and a dense v₀ this does not
  * occur, and determinism holds regardless (both engines walk the same
  * trajectory).
  */
object Pca {

  /** flat (id, i, x), means (i, m), cov (i, j, c) — all checkpointed.
    *
    * Two covariance paths with bit-identical output (PcaSpec pins it):
    *
    *  - `gramian = true` (default — the compute path): ONE
    *    [[graft.functions.GramianAgg]] pass accumulates the d·(d+1)/2
    *    upper-triangle fixed-point sums in a flat 128-bit buffer per
    *    partition; the full matrix is the triangle unioned with its
    *    mirror (xᵢxⱼ = xⱼxᵢ exactly in IEEE). Per row: d²/2 primitive
    *    adds, no join machinery.
    *  - `gramian = false` (the SQL-oracle anchor): the relational
    *    self-join of `flat` on id emits d² product rows per input row;
    *    map-side partial aggregation collapses them to ≤ d² per
    *    partition before the (i,j) exchange. Correct shuffle shape, but
    *    the d²-per-row materialization is the wrong CONSTANT at
    *    production widths — ~10⁶ InternalRows per vector at d = 1024.
    */
  private def covariance(df0: DataFrame, vecCol: String, idCol: String,
                         nD: Column, dim: Int,
                         gramian: Boolean): (DataFrame, Array[Double], DataFrame) = {
    // both covariance paths must agree on MALFORMED input too: GramianAgg
    // requires length == dim, so the relational path gets the same guard
    // here — a ragged vector fails the job loudly on either path instead
    // of one path silently computing over partial products
    val df = df0.select(col(idCol),
      when(size(col(vecCol)) === dim, col(vecCol))
        .otherwise(raise_error(concat(
          lit("pca: vector length "), size(col(vecCol)).cast("string"),
          lit(s" != dim $dim")))).as(vecCol))
    val flat = df
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("i0", "xf")))
      .select(col(idCol), (col("i0") + 1).cast("long").as("i"),
        col("xf").cast("double").as("x"))
      .localCheckpoint(true)
    // the d per-dimension means are BOUNDED by construction — collected
    // once and folded into every consumer as an array literal (the
    // Clustering.kmeans "broadcast the centers" move, r15): covariance
    // assembly and the projection tail become map-only projections
    // instead of model-sized joins + their exchanges. Values are the
    // identical qsum(x)/n doubles the joined formulation produced.
    val means = new Array[Double](dim)
    flat.groupBy("i").agg((qsum(col("x")) / nD).as("m"))
      .collect() // bounded: one row per dimension
      .foreach(r => means((r.getLong(0) - 1).toInt) = r.getDouble(1))
    val mLit = typedLit(means.toSeq)
    val sxx =
      if (gramian) {
        val tri = df
          .select(graft.functions.GramianAgg.gramian_upper(
            col(vecCol).cast("array<double>"), dim, Quantum, Clamp).as("g"))
          .select(explode(col("g")).as("e"))
          .select(col("e.i").as("i"), col("e.j").as("j"), col("e.sxx").as("sxx"))
        tri.union(tri.filter(col("i") =!= col("j"))
          .select(col("j").as("i"), col("i").as("j"), col("sxx")))
      } else {
        val flatB = flat.select(col(idCol), col("i").as("j"), col("x").as("y"))
        flat.join(flatB, idCol)
          .groupBy("i", "j")
          .agg(qsum(col("x") * col("y")).as("sxx"))
      }
    // no explicit repartition of the d²-row matrix: AQE already coalesces
    // the model-sized exchanges (measured — an explicit repartition(1)
    // before the checkpoint ADDED a stage and cost ~20% on emb_pca2)
    val cov = sxx
      .select(col("i"), col("j"),
        (col("sxx") / nD - element_at(mLit, col("i").cast("int"))
          * element_at(mLit, col("j").cast("int"))).as("c"))
      .localCheckpoint(true)
    (flat, means, cov)
  }

  /** `iters` normalized power-iteration rounds from v₀ = 1/√d.
    *
    * The iteration state is a d-vector — BOUNDED by construction (dim ≤
    * embedding width) — so it lives on the driver and folds into each
    * round's mat-vec as an array literal (the Clustering.kmeans
    * "broadcast the centers" move, r15): one aggregate-collect job per
    * round over the d²-row matrix, no per-round join, crossJoin, or
    * checkpoint. The norm fold and division replicate the joined
    * formulation's arithmetic exactly
    * ([[graft.functions.FixedPointSum.qsumLocal]]; u/nrm is the same IEEE
    * division wherever it runs), so the learned component — which
    * the oracle replays relationally — is bit-identical.
    */
  private def iterate(cov: DataFrame, dim: Int, iters: Int): Array[Double] = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iters) {
      val u = matVecLocal(cov, v, dim)
      val nrm = math.sqrt(qsumLocal(u.map(x => x * x)))
      v = u.map(_ / nrm)
    }
    v
  }

  /** u = C·v with v as a literal: one grouped qsum over the matrix, one
    * d-row collect.
    */
  private def matVecLocal(cov: DataFrame, v: Array[Double],
                          dim: Int): Array[Double] = {
    val u = new Array[Double](dim)
    cov.groupBy("i")
      .agg(qsum(col("c") * element_at(typedLit(v.toSeq), col("j").cast("int")))
        .as("u"))
      .collect() // bounded: one row per dimension
      .foreach(r => u((r.getLong(0) - 1).toInt) = r.getDouble(1))
    u
  }

  /** Quantized-BIGINT per-row projection term for component column `w`.
    * Terms clamp to ±1e6 like qsum's (a term past the clamp would
    * silently overflow the long at ×1e12); the long sum then has ~9e6
    * rows of headroom per GROUP even at the clamp — and a projection
    * group is one vector's d terms, bounded by construction.
    */
  private def projTerm(m: Column, w: Column): Column =
    sum(floor(least(greatest((col("x") - m) * w, lit(-Clamp)), lit(Clamp))
      * lit(Quantum)).cast("long"))
      .cast("double") / lit(Quantum)

  /** (idCol, pc1): each row's projection onto the power-iterated top
    * principal component of the centered covariance. `dim` must equal
    * the embedding length. `gramian` picks the covariance path — see
    * [[covariance]]; results are bit-identical either way.
    */
  def powerIterationPc1(df: DataFrame, vecCol: String, idCol: String,
                        dim: Int, iters: Int = 6,
                        gramian: Boolean = true): DataFrame = {
    require(dim >= 1 && iters >= 1, "pca needs dim >= 1 and iters >= 1")
    val nD = lit(df.count().toDouble)
    val (flat, means, cov) = covariance(df, vecCol, idCol, nD, dim, gramian)
    val v = iterate(cov, dim, iters)
    val mL = typedLit(means.toSeq)
    val i = col("i").cast("int")
    flat.groupBy(col(idCol))
      .agg(projTerm(element_at(mL, i),
        element_at(typedLit(v.toSeq), i)).as("pc1"))
  }

  /** (idCol, pc1, pc2): top two components via Hotelling deflation —
    * C₂ = C − λ₁·v₁v₁ᵀ with λ₁ = v₁ᵀCv₁, then the same iteration on C₂.
    * Both projections come out of ONE grouped pass over `flat`.
    */
  def powerIterationTop2(df: DataFrame, vecCol: String, idCol: String,
                         dim: Int, iters: Int = 6,
                         gramian: Boolean = true): DataFrame = {
    require(dim >= 2 && iters >= 1, "top2 needs dim >= 2 and iters >= 1")
    val nD = lit(df.count().toDouble)
    val (flat, means, cov) = covariance(df, vecCol, idCol, nD, dim, gramian)
    val v1 = iterate(cov, dim, iters)
    // Rayleigh quotient of the normalized v1 (|v1| = 1 by construction):
    // one more literal mat-vec, λ folded on the driver's qsum grid
    val u1 = matVecLocal(cov, v1, dim)
    val lam = qsumLocal((0 until dim).map(i => v1(i) * u1(i)))
    val v1L = typedLit(v1.toSeq)
    val cov2 = cov
      .select(col("i"), col("j"),
        (col("c") - ((lit(lam) * element_at(v1L, col("i").cast("int")))
          * element_at(v1L, col("j").cast("int")))).as("c"))
      .localCheckpoint(true)
    val v2 = iterate(cov2, dim, iters)
    val mL = typedLit(means.toSeq)
    val i = col("i").cast("int")
    flat.groupBy(col(idCol))
      .agg(projTerm(element_at(mL, i), element_at(v1L, i)).as("pc1"),
        projTerm(element_at(mL, i), element_at(typedLit(v2.toSeq), i))
          .as("pc2"))
  }
}
