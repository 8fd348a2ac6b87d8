package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.{cosine_similarity, srp_signature}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, as a large corpus demands:
  *
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small) query
  *    set against the corpus, one map-side pass computes similarities with
  *    graft's codegen'd cosine expression, then a per-query top-k. The
  *    baseline and the verifier for the approximate path.
  *  - [[srpTopK]] — sign-random-projection LSH: corpus and queries are
  *    bucketed by `tables` independent bit-signatures; a query only scores
  *    vectors sharing a bucket in some table. At 100 TB the bucket join
  *    shuffles a small fraction of the corpus per query instead of
  *    scanning all of it; recall is tunable via (bits, tables).
  *
  * Top-k selection uses a window ranked by (similarity DESC, id) — ties
  * break deterministically.
  */
object Similarity {

  /** Exact top-k: every (query, candidate) pair is scored.
    * `queries` must be broadcast-sized (it is the driver of the cross
    * product; the corpus side streams through map-side).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                     idCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val c = graft.Tables.fanOut(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    rankTopK(scored, k)
  }

  /** Exact top-k hard negatives: candidates restricted to a DIFFERENT
    * label than the query — the hard-negative mining step of contrastive
    * embedding training (the informative negatives are the most-similar
    * wrong-label points, not random ones). Same linear scan-vs-broadcast
    * shape as [[bruteForceTopK]]; the label inequality rides the join
    * condition, so wrong-label pairs never reach the scorer.
    */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                        idCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), col(labelCol).as("q_label")))
    val c = graft.Tables.fanOut(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("n_label")))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id")
        && col("q_label") =!= col("n_label"))
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    rankTopK(scored, k)
  }

  /** Per-query top-k via graft's TopKPerKey operator: map-side bounded
    * heaps, then a shuffle of at most k rows per (query, map task) — the
    * full candidate set is never sorted or shuffled (see
    * graft.plans.TopKPerKey). The rank window afterwards runs on ≤ k rows
    * per key, already co-partitioned by the operator's exchange.
    */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val top = graft.plans.TopK.perKey(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Approximate top-k via SRP-LSH bucketing.
    *
    * `maxBucket` caps the corpus-side population of one (table, signature)
    * bucket: a duplicate-heavy corpus piles near-identical vectors into one
    * bucket, and every query probing it would score the whole pile —
    * quadratic work on a single shuffle key. Oversized buckets are dropped
    * from candidate generation (declared semantics, same guard as
    * Dedup.dropHotKeys); their members remain reachable through their
    * other `tables − 1` signatures when those buckets are sane.
    */
  def srpTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, k: Int, bits: Int = 8, tables: Int = 4,
              maxBucket: Int = 10000, portable: Boolean = false,
              probes: Int = 0): DataFrame = {
    // multi-probe: QUERY side also visits the `probes` lowest-|margin|
    // single-bit signature variants per table — recall rises without
    // touching the corpus index (query side is bounded by construction,
    // so (1+probes)× its bucket rows is still broadcast-sized)
    def bucketedProbed(df: DataFrame, id: String, vec: String) = {
      val bucketKeys = flatten(array((0 until tables).map { t =>
        transform(graft.functions.srp_probes(col(vec), bits, seed = 7L + t, probes, portable),
          sv => concat_ws(":", lit(t), sv))
      }: _*))
      df.select(col(id), col(vec), explode(bucketKeys).as("bucket"))
    }

    // the corpus side's `tables` SRP signatures are computed INSIDE a
    // checkpoint: dropHotKeys reads its input twice (hot-key aggregate +
    // kept join side), so an unmaterialized bucket stream would re-run
    // the hyperplane arithmetic over the whole corpus for the aggregate
    // (the minhashLsh cache-before-cap discipline, r15); the explode
    // reruns cheaply off the checkpointed array column
    val cBucketKeys = array((0 until tables).map { t =>
      concat_ws(":", lit(t), srp_signature(col("c_vec"), bits, seed = 7L + t, portable))
    }: _*)
    val cWith = graft.Tables.fanOut(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
      .withColumn("__buckets", cBucketKeys)
      .localCheckpoint(true)
    val c = graft.operators.Dedup.dropHotKeys(
      cWith.select(col("neighbor_id"), col("c_vec"),
        explode(col("__buckets")).as("bucket")),
      "bucket", maxBucket)
    val q = broadcast(bucketedProbed(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "query_id", "q_vec"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates(Seq("query_id", "neighbor_id"))
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    rankTopK(scored, k)
  }

  /** Deterministic IVF pivots: the `nlist` lowest id-hashes — a uniform
    * sample under any id distribution (sparse/filtered ids included),
    * computed as a TakeOrdered (no global window, no full sort
    * materialization), with the id as tie-break so the choice is
    * total-order deterministic. The hash is the md5-derived 24-bit scheme
    * (see TextAnalysis.rollingFingerprint) so the same selection is
    * expressible in ANSI SQL for the oracle. At real scale the trained
    * pivot table is persisted once and reused across queries.
    */
  def ivfPivots(corpus: DataFrame, vecCol: String, idCol: String, nlist: Int): DataFrame =
    corpus.select(col(idCol), col(vecCol))
      .orderBy(conv(substring(md5(col(idCol).cast("string")), 1, 6), 16, 10).cast("long"),
        col(idCol))
      .limit(nlist)
      .select(col(idCol).as("pivot_id"), col(vecCol).as("pivot_vec"))

  /** Pivots as a literal `array<struct<c, pv>>` column — the KMeans-style
    * "broadcast the centers" move. The pivot table is bounded by
    * construction (`nlist` rows), so collecting it to the driver and
    * embedding it in the plan is a bounded one-time cost; assignment then
    * needs NO join, NO aggregate and NO shuffle — a pure projection that
    * scales to any corpus size. (The alternative — `max_by` over
    * crossJoin(broadcast(pivots)) — avoids the window-shuffle too, but its
    * struct aggregation buffer plans as SortAggregate: a map-side sort of
    * N×nlist scored rows that this formulation never produces.) Rows
    * are sorted by cell id: a persisted pivot table reads back in no fixed
    * order, and the literal is part of the plan, which must not change
    * from run to run.
    */
  private def pivotLiteral(pivots: DataFrame): Column = {
    // nlist rows — bounded by construction
    val rows = pivots.collect().sortBy(_.getLong(0))
    array(rows.toIndexedSeq.map { r =>
      struct(lit(r.getLong(0)).as("c"), typedLit(r.getSeq[Float](1)).as("pv"))
    }: _*)
  }

  /** Per-row scored cells: array of (sim, negc, c), one struct per pivot.
    * Field order makes the natural struct ordering (sim, then −cell), so
    * max / sort-descending picks the highest similarity, ties broken
    * toward the lowest cell id — total-order deterministic.
    */
  private def scoredCells(vec: Column, pivotLit: Column): Column =
    transform(pivotLit, p => struct(
      cosine_similarity(vec, p("pv")).as("sim"),
      (-p("c")).as("negc"),
      p("c").as("c")))

  /** IVF-style coarse quantization: assign every vector to its nearest of
    * `nlist` pivot vectors (chosen deterministically from the corpus), so
    * queries probe only their `nprobe` closest cells. Map-only (see
    * [[pivotLiteral]]): the plan is a single projection over the scan —
    * the partitioned output can be written bucketed-by-cell so probes are
    * pruned scans.
    */
  private def assignCells(df: DataFrame, pl: Column, vecCol: String,
                          idCol: String): DataFrame =
    df.select(col(idCol), col(vecCol),
      array_max(scoredCells(col(vecCol), pl))("c").as("cell_id"))

  def ivfAssign(corpus: DataFrame, vecCol: String, idCol: String,
                spark: SparkSession, nlist: Int): DataFrame =
    assignCells(corpus, pivotLiteral(ivfPivots(corpus, vecCol, idCol, nlist)),
      vecCol, idCol)

  private def probeCells(queries: DataFrame, pl: Column, vecCol: String,
                         idCol: String, nprobe: Int): DataFrame = {
    val top = slice(reverse(array_sort(scoredCells(col(vecCol), pl))), 1, nprobe)
    queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(transform(top, x => x("c"))).as("cell_id"))
  }

  /** The `nprobe` nearest cells per query, exploded — also map-only: the
    * sort runs per row over the `nlist`-element scored array, never over
    * rows.
    */
  def ivfProbeCells(queries: DataFrame, pivots: DataFrame, vecCol: String,
                    idCol: String, nprobe: Int): DataFrame =
    probeCells(queries, pivotLiteral(pivots), vecCol, idCol, nprobe)

  /** Route every vector to its nearest pivot cell — the write-path
    * companion of [[ivfProbeCells]] for a PERSISTED index (see
    * [[AnnIndex]]): `pivots` is (cell_id: Long, pv: Array[Float]), the
    * same float-cast table the query path reloads, so routing decisions
    * are identical on both sides of the persistence boundary.
    */
  def ivfRoute(corpus: DataFrame, pivots: DataFrame, vecCol: String,
               idCol: String): DataFrame =
    assignCells(corpus, pivotLiteral(pivots), vecCol, idCol)

  /** Deterministic TEXT → EMBEDDING bridge: signed feature hashing
    * (Weinberger et al. 2009) — token t adds sign(t) ∈ {±1} to
    * component bucket(t) of a `dim`-wide vector, which is then
    * L2-normalized. Both hash and sign come from the portable md5
    * formula, so the construction is exactly reproducible in SQL and
    * NEEDS NO MODEL: the bridge that lets the entire embedding stack
    * (ANN indexes, screen/ingest, semantic dedup, k-means, PCA) run on
    * corpora that ship no embedding column. Not a learned semantic
    * space — cosine here measures weighted token overlap (a bag-of-
    * words kernel), which is exactly what lexical near-dup and
    * clustering pipelines want as a first pass.
    *
    * Scale shape: one token explode → (id, bucket) partial-aggregated
    * weight sums (≤ dim rows per doc) → one per-id dense-array build.
    * Docs with no tokens emit no row (the bigram-table convention), and
    * so do fully-cancelled docs whose signed sums all reach 0 — a
    * zero-norm vector has no direction, so every cosine consumer
    * (dedup screens above all) would mishandle it.
    */
  def hashEmbed(df: DataFrame, textCol: String, idCol: String, dim: Int = 64,
                salt: String = "he"): DataFrame = {
    require(dim >= 2 && dim <= 4096, "dim in [2, 4096]")
    val toks = graft.Tables.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val bucket = conv(substring(md5(concat(lit(s"he:$salt:"), col("token"))),
      1, 6), 16, 10).cast("long") % dim
    val sgn = when(conv(substring(md5(concat(lit(s"hs:$salt:"), col("token"))),
      1, 1), 16, 10).cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L))
    val cells = toks
      .select(col(idCol), bucket.as("bucket"), sgn.as("s"))
      .groupBy(col(idCol), col("bucket")).agg(sum(col("s")).as("w"))
    val dense = cells.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(
        struct(col("bucket").cast("int"), col("w")))).as("m"))
      .select(col(idCol), transform(sequence(lit(0), lit(dim - 1)),
        i => coalesce(element_at(col("m"), i), lit(0L)).cast("double")).as("raw"))
    // fully-cancelled docs (every bucket's signed sum is 0) emit NO row,
    // like token-less docs: a zero vector has no cosine direction, so it
    // can never self-match — keeping it would silently break the
    // marker-free replay-idempotency contract of the dedup ingest paths
    // (a re-delivered zero-vector doc re-admits on every replay).
    // Normalization is ONE native call (norm + divide in a single pass,
    // null for zero norm). The column formulations both fail at scale:
    // dividing by the aggregate inside the lambda re-folds the vector
    // per element (O(dim²)/row, the r8 regression), and materializing
    // the norm as a column does NOT fix it — CollapseProject inlines a
    // single-reference alias straight back into the lambda (verified on
    // the optimized plan).
    dense.select(col(idCol),
        graft.functions.normalize_unit(col("raw")).as("embedding"))
      .filter(col("embedding").isNotNull)
  }

  /** Symmetric per-vector int8 quantization: scale = max|x|/127, q_i =
    * round(x_i/scale). The standard 4× storage/bandwidth compression for
    * an embedding store at corpus scale — map-only, exactly invertible to
    * within scale/2 per dimension, and the arithmetic is plain enough for
    * a SQL oracle. Zero vectors quantize to zeros (scale 0 guard).
    */
  def quantizeInt8(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    // single native call (codegen, BigDecimal HALF_UP — oracle-exact);
    // the struct is split in a second projection, which CollapseProject
    // leaves alone (non-cheap expression referenced twice)
    val q = df.select(col(idCol), graft.functions.quantize_int8(col(vecCol)).as("q"))
    q.select(col(idCol), col("q.scale").as("scale"), col("q.qvec").as("qvec"))
  }

  /** Reconstruct approximate float vectors from [[quantizeInt8]] output. */
  def dequantizeInt8(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol),
      transform(col("qvec"), q => (q.cast("double") * col("scale")).cast("float"))
        .as("embedding"))

  /** Per-DIMENSION z-score standardization of an embedding column — the
    * whitening step before distance-based clustering/dedup when feature
    * scales differ. One corpus pass computes exact decimal-funneled power
    * sums per dimension (the a7_moments pattern — partition-invariant and
    * SQL-oracle-exact); the per-dim (mean, std) table is dim-count-sized,
    * collected once and folded back as ARRAY LITERALS so the normalize
    * pass is map-only (no join, no shuffle). Zero-variance dims emit 0.
    * Returns (idCol, zvec: array<double>).
    */
  def standardize(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val stats = df
      .select(posexplode(col(vecCol)).as(Seq("d", "v")))
      .select(col("d"), col("v").cast("double").as("v"))
      .groupBy("d")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(38, 12))).cast("double").as("s1"),
        sum((col("v") * col("v")).cast(DecimalType(38, 12))).cast("double").as("s2"))
      .collect() // bounded: one row per DIMENSION, not per vector
      .map { r =>
        val (n, s1, s2) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
        val mean = s1 / n
        (r.getInt(0), mean, math.sqrt(math.max(s2 / n - mean * mean, 0.0)))
      }.sortBy(_._1)
    val means = lit(stats.map(_._2))
    val stds = lit(stats.map(_._3))
    df.select(col(idCol),
      transform(col(vecCol), (v, i) =>
        when(element_at(stds, i + 1) === 0d, lit(0d))
          .otherwise((v.cast("double") - element_at(means, i + 1))
            / element_at(stds, i + 1))).as("zvec"))
  }

  /** End-to-end IVF ANN: corpus partitioned into `nlist` cells, each query
    * scored only against the `nprobe` cells nearest to it. The probe join
    * broadcasts the (queries × nprobe) side, so the corpus streams map-side
    * and the only exchange is TopKPerKey's ≤ k rows per (query, task).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, k: Int, nlist: Int, nprobe: Int = 1): DataFrame =
    ivfTopKWithPivots(corpus, queries,
      pivotLiteral(ivfPivots(corpus, vecCol, idCol, nlist)), // one collect
      vecCol, idCol, k, nprobe)

  /** IVF with k-means-TRAINED cells: Lloyd centroids replace the
    * hash-sampled pivots — tighter cells, better recall at the same
    * nprobe. The centers are a bounded driver artifact exactly like
    * [[ivfPivots]]' literal; at real scale they are trained once on a
    * sample, persisted, and reused across every query batch. Synthetic
    * cell ids 0..nlist-1; centroids cast to float for the cosine routing
    * (cell assignment needs no double precision).
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, vecCol: String,
                     idCol: String, k: Int, nlist: Int, iters: Int,
                     nprobe: Int = 1): DataFrame = {
    val cents = Clustering.kmeans(corpus, vecCol, idCol, nlist, iters)
    val pl = array(cents.zipWithIndex.map { case (cv, c) =>
      struct(lit(c.toLong).as("c"),
        typedLit(cv.map(_.toFloat).toSeq).as("pv"))
    }.toIndexedSeq: _*)
    ivfTopKWithPivots(corpus, queries, pl, vecCol, idCol, k, nprobe)
  }

  private def ivfTopKWithPivots(corpus: DataFrame, queries: DataFrame,
                                pl: Column, vecCol: String, idCol: String,
                                k: Int, nprobe: Int): DataFrame = {
    val assigned = assignCells(corpus, pl, vecCol, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col("cell_id"))
    val qCells = probeCells(queries, pl, vecCol, idCol, nprobe)
    // no pair-dedup needed: each corpus vector lives in exactly one cell,
    // and the probed cells of one query are distinct — a (query, neighbor)
    // pair can match at most once
    val scored = assigned.join(broadcast(qCells), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    rankTopK(scored, k)
  }
}
