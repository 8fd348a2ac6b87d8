package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{adc_score, cosine_similarity, pq_encode}

/** Persisted ANN indexes — the production shape of approximate search at
  * corpus scale: train ONCE, write the index, answer every query from the
  * written artifact. The in-memory operators (Similarity.ivfTopK*,
  * Pq.ivfAdcTopK) re-train and re-route per invocation, which is right
  * for a one-shot job and wrong for a query service over 100 TB; this
  * module splits the lifecycle for both index families:
  *
  *   - IVF-flat ([[buildIvf]]/[[appendIvf]]/[[queryIvf]]): raw vectors
  *     partitioned by coarse cell; a query reads nprobe/nlist of the
  *     index bytes (partition-directory prune) and scores exact cosine
  *     inside the probed cells.
  *   - IVFADC ([[buildIvfAdc]]/[[appendIvfAdc]]/[[queryIvfAdc]]): the
  *     same coarse prune, but the scored payload is m PQ codes per
  *     vector — cells bound WHICH rows score, codes bound what scoring
  *     COSTS. Raw vectors ride along in the same cell partitions so the
  *     exact re-rank of the ADC shortlist reads only probed partitions
  *     too. Pivots AND codebooks freeze at build time; appends route and
  *     encode under the frozen model (what keeps old and new rows
  *     comparable), re-train is a drift-informed policy the caller owns.
  *
  * Continuous appends accrete one small file per touched cell per batch;
  * [[compactIvf]] rewrites each cell partition to a bounded file count
  * through a temp-then-swap (the Warehouse.compact discipline), contents
  * byte-identical.
  *
  * AnnIndexSpec pins (a) persisted results ≡ the in-memory operators
  * bit-for-bit (queryIvf vs ivfTopKTrained, queryIvfAdc vs ivfAdcTopK),
  * (b) the PartitionFilters prune in the scan plan, and (c) compaction
  * invariance.
  */
object AnnIndex {

  /** Read a persisted cell-partitioned corpus with `cell_id` pinned to
    * LONG: the write side partitions by a long column, but partition-
    * column INFERENCE types the read-back directory values (IntegerType
    * for small ids) — the explicit cast keeps the isin prune and every
    * downstream join comparing identical types regardless of inference
    * settings.
    *
    * Startup recovery for a [[compactIvf]] crashed mid-swap: the swap is
    * two renames, and a crash between them leaves the index parked at
    * `corpus__old` with no `corpus` directory — if that state is
    * observed, the old directory is renamed back before reading (the
    * pre-compaction contents are complete and correct by construction;
    * the half-written `corpus__compact` temp is ignored and overwritten
    * by the next compaction).
    */
  private def readCorpus(spark: SparkSession, dir: String): DataFrame = {
    StoreProtocol.open(spark, dir, "corpus")
    val df = spark.read.parquet(s"$dir/corpus")
    df.withColumn("cell_id", col("cell_id").cast("long"))
  }

  /** Candidate join of pruned index rows against probe rows for the
    * ARBITRARY-SIZED query paths ([[queryIvfBulk]], the screen/ingest
    * family). Two regimes, split on the same statistic the planner
    * uses for its broadcast decision:
    *
    *   - BROADCAST regime (probe side under the autoBroadcast
    *     threshold): the join runs map-side over the pruned SCAN, whose
    *     parallelism is byte-proportional (parquet splits by
    *     maxPartitionBytes, row-group-splittable even for a compacted
    *     one-file cell) — and since join-output work per scan split is
    *     rows × probes with probes bounded by the broadcast, work is
    *     even across splits. No reducer exists, so there is no funnel
    *     and nothing to salt: the plain single-key join is optimal.
    *
    *   - SHUFFLE regime (probe side too big to broadcast — the actual
    *     bulk/ingest contract): the equi-join shuffles BOTH sides by
    *     `cell_id`, a ≤ nlist-key, drift-skewable column — parallelism
    *     caps at nlist regardless of cluster size, and a hot cell (the
    *     thing [[routingDrift]] exists to detect) funnels
    *     |cell| × |probes| cosine evaluations through ONE reducer.
    *     Here hot cells sub-split deterministically (the
    *     [[Skew.saltedEquiJoin]] move, keyed on CURRENT occupancy
    *     rather than a fixed bucket count): the corpus side gets
    *     `split = xxhash64(row id) % nsplit(cell)` — task retries
    *     re-produce the routing — each probe row replicates across its
    *     cell's splits, and the join key becomes (cell_id, split), so
    *     a hot cell's work spreads over nsplit reducers.
    *
    * nsplit(cell) = ceil(n / maxCellRows) (bounded corpus rows per
    * reducer), floored at the cluster's core count for any cell that
    * splits at all: byte-derived sizing — AQE coalescing above all —
    * cannot see that join-output work is rows × probes, so a hot
    * cell's row count must translate into cluster-wide parallelism
    * even when its bytes look small. For the same reason the corpus
    * side's partition count is pinned with an EXPLICIT-N repartition
    * on the join keys: the corpus shuffles here regardless (the join
    * requires it), the explicit N is exempt from AQE coalescing,
    * satisfies the join's distribution requirement as-is, and forces
    * the co-partitioned probe side to the same layout.
    *
    * Occupancy comes from a per-cell count over the PRUNED corpus
    * (≤ nlist rows collected; the aggregate touches only the partition
    * column, so the scan is footer-cheap) — occupancy NOW, not the
    * build-time `cell_stats` snapshot, because the hot cell is
    * precisely the one that drifted hot through appends after the
    * snapshot. When no cell exceeds `maxCellRows` the plain join is
    * returned unchanged (the fixture-scale fast path). Probe rows for
    * cells the corpus doesn’t hold drop out of the explode
    * (element_at misses → null sequence) — the plain join produced
    * nothing for them either. Output rows are identical across all
    * paths: splitting partitions the corpus side of each cell, it
    * never adds or removes a pair (spec-pinned).
    */
  /** The planner's own broadcast regime test: does `df`'s optimized-plan
    * size statistic fit under `spark.sql.autoBroadcastJoinThreshold`?
    * Used by [[cellCandidates]] (and RetrievePipeline's serve-path
    * regime switch) so graft's own broadcast/shuffle decisions agree
    * with the decisions Catalyst would make on the same frame.
    */
  private[graft] def fitsBroadcast(df: DataFrame): Boolean =
    broadcastThresholdFits(df.sparkSession,
      df.queryExecution.optimizedPlan.stats.sizeInBytes)

  /** Does a KNOWN byte size fit under the session's
    * `spark.sql.autoBroadcastJoinThreshold`? For callers that can
    * compute an exact size (row count × fixed row width) — plan
    * statistics mis-estimate in both directions around aggregates, so
    * an exact figure beats [[fitsBroadcast]] whenever one exists.
    */
  private[graft] def broadcastThresholdFits(spark: SparkSession,
                                            bytes: BigInt): Boolean = {
    val bcConf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val bcThreshold = // "-1"/plain numbers parse directly; "10MB" forms via JavaUtils
      try bcConf.trim.toLong
      catch { case _: NumberFormatException =>
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(bcConf) }
    bcThreshold > 0 && bytes <= bcThreshold
  }

  private def cellCandidates(corpus: DataFrame, probes: DataFrame,
                             corpusIdCol: String,
                             maxCellRows: Long): DataFrame = {
    require(maxCellRows >= 1, "maxCellRows must be >= 1")
    val spark = corpus.sparkSession
    // the planner's own broadcast statistic for the probe side: under
    // the threshold the join is map-side over the scan — no reducer,
    // no funnel, salting would only add a corpus shuffle
    if (fitsBroadcast(probes))
      return corpus.join(probes, Seq("cell_id"))
    val minSplits = spark.sparkContext.defaultParallelism
    val occ = corpus.groupBy("cell_id").count().collect() // bounded: <= nlist
      // ceil(n / maxCellRows), kept in Long and clamped to the 1<<16
      // partition cap BEFORE the Int narrowing — a naive .toInt with a
      // tiny maxCellRows would wrap negative and silently map the hottest
      // cell to a single split, restoring the funnel this exists to kill
      .map { r =>
        val base = ((((r.getLong(1) - 1) / maxCellRows) + 1)
          .min((1 << 16).toLong)).toInt
        r.getLong(0) -> (if (base <= 1) 1 else base.max(minSplits))
      }
      .toMap
    if (occ.isEmpty || occ.valuesIterator.max <= 1)
      corpus.join(probes, Seq("cell_id"))
    else {
      val nsplit = element_at(typedLit(occ), col("cell_id")).cast("long")
      val parts = occ.valuesIterator.map(_.toLong).sum.min(1 << 16).toInt
      val c = corpus.withColumn("__split",
          pmod(xxhash64(col(corpusIdCol)), nsplit))
        .repartition(parts, col("cell_id"), col("__split"))
      val q = probes.withColumn("__split",
        explode(sequence(lit(0L), nsplit - 1)))
      c.join(q, Seq("cell_id", "__split")).drop("__split")
    }
  }

  /** Snapshot the per-cell occupancy of the persisted corpus into
    * `dir/cell_stats` — the build-time baseline [[routingDrift]] reads.
    * nlist-bounded rows; one aggregate over the cell_id column.
    */
  private def recordCellStats(spark: SparkSession, dir: String): Unit =
    readCorpus(spark, dir)
      .groupBy("cell_id").agg(count(lit(1)).as("n_built"))
      .write.mode("overwrite").parquet(s"$dir/cell_stats")

  /** Train and persist: `dir/centroids` (cell_id, pv float vector) and
    * `dir/corpus` partitioned by cell_id.
    */
  def buildIvf(corpus: DataFrame, vecCol: String, idCol: String, dir: String,
               nlist: Int, iters: Int): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = Clustering.kmeans(corpus, vecCol, idCol, nlist, iters)
    val centDf = cents.zipWithIndex
      .map { case (cv, c) => (c.toLong, cv.map(_.toFloat).toSeq) }
      .toSeq.toDF("cell_id", "pv")
    // the centroid table is driver literals and the routed corpus only
    // reads centDf (never the centroids PARQUET) — independent writes,
    // overlapped (guide §2.6); cell_stats still derives from the written
    // corpus after the barrier
    graft.Par.awaitAll(
      graft.Par.run(
        centDf.write.mode("overwrite").parquet(s"$dir/centroids")),
      graft.Par.run(
        Similarity.ivfRoute(corpus, centDf, vecCol, idCol)
          .write.mode("overwrite").partitionBy("cell_id")
          .parquet(s"$dir/corpus")))
    recordCellStats(spark, dir)
  }

  /** Incremental index maintenance: route NEW vectors with the
    * already-persisted centroids (no retraining — the index's routing
    * contract is frozen at build time, which is exactly what keeps old
    * and new rows comparable) and append them into the same cell
    * partitions. Dynamic partition append touches only the cells the new
    * vectors land in; existing files are never rewritten. Re-train (a
    * fresh buildIvf) when drift makes the frozen centroids a bad coarse
    * quantizer — that is a policy decision the caller owns, measurable
    * with Pca/warehouse_drift.
    */
  def appendIvf(newVectors: DataFrame, vecCol: String, idCol: String,
                dir: String): Unit = {
    val spark = newVectors.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    Similarity.ivfRoute(newVectors, cents, vecCol, idCol)
      .write.mode("append").partitionBy("cell_id")
      .parquet(s"$dir/corpus")
  }

  /** Top-k per query against a persisted index. `queries` must be
    * broadcast-sized (the same contract as every graft ANN query path);
    * the probed-cell collect is bounded by |queries|·nprobe.
    */
  def queryIvf(spark: SparkSession, dir: String, queries: DataFrame,
               vecCol: String, idCol: String, k: Int, nprobe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val qCells = Similarity.ivfProbeCells(queries, cents, vecCol, idCol, nprobe)
    val probed = qCells.select("cell_id").distinct()
      .collect().map(_.getLong(0)).sorted // bounded: |queries| * nprobe
    val corpus = readCorpus(spark, dir)
      .filter(col("cell_id").isin(probed: _*))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col("cell_id"))
      .join(broadcast(qCells), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    Similarity.rankTopK(scored, k)
  }

  /** Top-k per query against a persisted index for a LARGE query set —
    * the bulk twin of [[queryIvf]]. queryIvf broadcasts the probe table
    * (right for service-sized query batches; the corpus side never
    * shuffles); this path makes the query side arbitrary-sized — kNN
    * labeling an ENTIRE corpus against the index, bulk hard-negative
    * mining, embedding-join ETL. Probe assignment is map-only under the
    * nlist-bounded centroid literal, candidates come from an equi-JOIN
    * on (cell_id, split) with hot cells sub-split across
    * ⌈|cell| / maxCellRows⌉ tasks (see [[cellCandidates]] — parallelism
    * is no longer capped at nlist keys, and a drift-hot cell cannot
    * funnel through one task), and per-query top-k runs through
    * TopKPerKey bounded heaps. The collects are the probed-cell list
    * and the per-cell occupancy (each ≤ nlist). Results are
    * BIT-IDENTICAL to [[queryIvf]] at the same parameters, split or
    * not (spec-pinned).
    */
  def queryIvfBulk(spark: SparkSession, dir: String, queries: DataFrame,
                   vecCol: String, idCol: String, k: Int,
                   nprobe: Int, maxCellRows: Long = 1L << 18): DataFrame = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val qCells = Similarity.ivfProbeCells(queries, cents, vecCol, idCol, nprobe)
    val probed = qCells.select("cell_id").distinct()
      .collect().map(_.getLong(0)).sorted // bounded: <= nlist
    val pruned = readCorpus(spark, dir)
      .filter(col("cell_id").isin(probed: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col("cell_id"))
    val scored = cellCandidates(pruned, qCells, "neighbor_id", maxCellRows)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    Similarity.rankTopK(scored, k)
  }

  /** Screen a NEW batch against the persisted corpus index — the
    * embedding analog of the minhash incremental dedup
    * ([[Dedup.minhashLshIncrementalFromState]]): route the batch under
    * the FROZEN centroids, probe each vector's `nprobe` nearest cells,
    * and verify exact cosine against only the corpus rows in those
    * cells. Returns (id_a = batch id, id_b = corpus id, cosine) for
    * every pair at or above `threshold`.
    *
    * Unlike [[queryIvf]] (top-k service; broadcast-sized query batch),
    * the batch here is an INGESTION batch and can be arbitrarily large:
    * probe assignment is map-only under the nlist-bounded centroid
    * literal, candidates come from an equi-JOIN on (cell_id, split)
    * with hot cells sub-split across ⌈|cell| / maxCellRows⌉ tasks (no
    * broadcast of the batch; see [[cellCandidates]] for the skew
    * contract), and the collects are the probed-cell list and the
    * per-cell occupancy (each ≤ nlist). Each corpus row lives in
    * exactly one cell and one split, so a pair can arise from at most
    * one probe — no distinct needed.
    */
  def screenIvf(spark: SparkSession, dir: String, batch: DataFrame,
                vecCol: String, idCol: String, threshold: Double,
                nprobe: Int, maxCellRows: Long = 1L << 18): DataFrame =
    screenAgainst(spark, dir, "centroids", batch, vecCol, idCol, threshold,
      nprobe, maxCellRows)

  /** [[screenIvf]] for an IVFADC index ([[buildIvfAdc]] layout): the
    * routing table is the frozen pivot set, and the exact-cosine verify
    * reads the raw vectors that ride along in the code-carrying cell
    * partitions — the screen never touches the PQ codes (a dedup
    * decision needs the exact check anyway, and the probed partitions
    * are already pruned).
    */
  def screenIvfAdc(spark: SparkSession, dir: String, batch: DataFrame,
                   vecCol: String, idCol: String, threshold: Double,
                   nprobe: Int, maxCellRows: Long = 1L << 18): DataFrame =
    screenAgainst(spark, dir, "pivots", batch, vecCol, idCol, threshold,
      nprobe, maxCellRows)

  private def screenAgainst(spark: SparkSession, dir: String, routing: String,
                            batch: DataFrame, vecCol: String, idCol: String,
                            threshold: Double, nprobe: Int,
                            maxCellRows: Long): DataFrame = {
    val cents = spark.read.parquet(s"$dir/$routing")
    val qCells = Similarity.ivfProbeCells(batch, cents, vecCol, idCol, nprobe)
    val probed = qCells.select("cell_id").distinct()
      .collect().map(_.getLong(0)).sorted // bounded: <= nlist
    val pruned = readCorpus(spark, dir)
      .filter(col("cell_id").isin(probed: _*))
      .select(col(idCol).as("id_b"), col(vecCol).as("c_vec"), col("cell_id"))
    cellCandidates(pruned, qCells.withColumnRenamed("query_id", "id_a"),
        "id_b", maxCellRows)
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("c_vec")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Screen-then-append: flag the batch rows that duplicate the persisted
    * corpus ([[screenIvf]]), append only the clean remainder under the
    * frozen routing ([[appendIvf]]), return the duplicate pairs. The
    * screen is EAGERLY materialized before the append mutates the index
    * — a lazy screen re-evaluated afterwards would read the rows it just
    * admitted and report batch-vs-batch pairs that were never screened
    * against.
    */
  def ingestIvf(spark: SparkSession, dir: String, batch: DataFrame,
                vecCol: String, idCol: String, threshold: Double,
                nprobe: Int, maxCellRows: Long = 1L << 18): DataFrame = {
    val dupes = screenIvf(spark, dir, batch, vecCol, idCol, threshold, nprobe,
        maxCellRows)
      .localCheckpoint(true)
    val clean = batch.join(
      dupes.select(col("id_a").as(idCol)).distinct(), Seq(idCol), "left_anti")
    appendIvf(clean, vecCol, idCol, dir)
    dupes
  }

  /** [[ingestIvf]] for an IVFADC index: screen under the frozen pivots
    * ([[screenIvfAdc]]), then route + PQ-encode the clean remainder
    * under the frozen model ([[appendIvfAdc]]). Same eager-screen-
    * before-append discipline.
    */
  def ingestIvfAdc(spark: SparkSession, dir: String, batch: DataFrame,
                   vecCol: String, idCol: String, threshold: Double,
                   nprobe: Int, maxCellRows: Long = 1L << 18): DataFrame = {
    val dupes = screenIvfAdc(spark, dir, batch, vecCol, idCol, threshold,
        nprobe, maxCellRows)
      .localCheckpoint(true)
    val clean = batch.join(
      dupes.select(col("id_a").as(idCol)).distinct(), Seq(idCol), "left_anti")
    appendIvfAdc(clean, vecCol, idCol, dir)
    dupes
  }

  // ---------------------------------------------------------------- IVFADC

  /** Reload persisted codebooks: m·ksub rows — bounded by construction. */
  private def readCodebooks(spark: SparkSession, dir: String): Pq.Codebooks = {
    val rows = spark.read.parquet(s"$dir/codebooks")
      .select(col("s"), col("code"), col("cv")).collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val cents = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    Pq.Codebooks(m, ksub, cents(0)(0).length, cents)
  }

  /** Train and persist the full IVFADC index under `dir`:
    * `pivots` (cell_id, pv) — the md5-sampled coarse quantizer exactly as
    * [[Pq.ivfAdcTopK]] trains it; `codebooks` (s, code, cv) — the fused-
    * Lloyd PQ model, doubles roundtripped exactly through parquet; and
    * `corpus` (id, vec, codes) partitioned by cell_id — codes for ADC
    * scoring, raw vectors riding along for the shortlist re-rank, both
    * behind the same partition prune.
    */
  def buildIvfAdc(corpus: DataFrame, vecCol: String, idCol: String, dir: String,
                  nlist: Int, m: Int = 8, ksub: Int = 16, iters: Int = 3): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // pivot selection/write and PQ training both read only `corpus` —
    // independent, overlapped; the routed+encoded corpus write then
    // overlaps the codebook write (guide §2.6)
    val pivotLeg = graft.Par.run(
      Similarity.ivfPivots(corpus, vecCol, idCol, nlist)
        .select(col("pivot_id").as("cell_id"), col("pivot_vec").as("pv"))
        .write.mode("overwrite").parquet(s"$dir/pivots"))
    val cbLeg = graft.Par.run(Pq.train(corpus, vecCol, idCol, m, ksub, iters))
    graft.Par.awaitAll(cbLeg, pivotLeg)
    val cb = graft.Par.await(cbLeg)
    val pivots = spark.read.parquet(s"$dir/pivots")
    graft.Par.awaitAll(
      graft.Par.run(
        (for (s <- 0 until cb.m; c0 <- 0 until cb.ksub)
          yield (s, c0, cb.cents(s)(c0).toSeq))
          .toDF("s", "code", "cv")
          .write.mode("overwrite").parquet(s"$dir/codebooks")),
      graft.Par.run(
        Similarity.ivfRoute(corpus, pivots, vecCol, idCol)
          .withColumn("codes", pq_encode(col(vecCol), cb.cents))
          .write.mode("overwrite").partitionBy("cell_id")
          .parquet(s"$dir/corpus")))
    recordCellStats(spark, dir)
  }

  /** Route + encode NEW vectors under the FROZEN pivots and codebooks and
    * append them into their cell partitions — the IVFADC twin of
    * [[appendIvf]]: the quantization contract is fixed at build time, so
    * appended rows score identically to built rows.
    */
  def appendIvfAdc(newVectors: DataFrame, vecCol: String, idCol: String,
                   dir: String): Unit = {
    val spark = newVectors.sparkSession
    val pivots = spark.read.parquet(s"$dir/pivots")
    val cb = readCodebooks(spark, dir)
    Similarity.ivfRoute(newVectors, pivots, vecCol, idCol)
      .withColumn("codes", pq_encode(col(vecCol), cb.cents))
      .write.mode("append").partitionBy("cell_id")
      .parquet(s"$dir/corpus")
  }

  /** ADC top-k against the persisted index, with optional exact-cosine
    * re-rank of a `shortlist` (the [[Pq.ivfAdcTopK]] semantics — results
    * are bit-identical to the in-memory operator at the same
    * parameters, AnnIndexSpec pins it). The corpus read is pruned to the
    * probed cells BEFORE any row deserializes; the refine pass re-reads
    * raw vectors from those same pruned partitions only (every shortlist
    * candidate came from a probed cell by construction).
    */
  def queryIvfAdc(spark: SparkSession, dir: String, queries: DataFrame,
                  vecCol: String, idCol: String, k: Int, nprobe: Int,
                  shortlist: Int = 0): DataFrame = {
    val pivots = spark.read.parquet(s"$dir/pivots")
    val cb = readCodebooks(spark, dir)
    val qCells = Similarity.ivfProbeCells(queries, pivots, vecCol, idCol, nprobe)
    val probed = qCells.select("cell_id").distinct()
      .collect().map(_.getLong(0)).sorted // bounded: |queries| * nprobe
    val pruned = readCorpus(spark, dir)
      .filter(col("cell_id").isin(probed: _*))
    val probes = qCells.select(col("query_id"), col("cell_id"))
      .join(Pq.adcLuts(queries, vecCol, idCol, cb), Seq("query_id"))
    val scored = pruned
      .select(col(idCol).as("neighbor_id"), col("cell_id"), col("codes"))
      .join(broadcast(probes), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", adc_score(col("codes"), col("lut"), cb.ksub))
      .select(col("query_id"), col("neighbor_id"), col("score"))
    val sl = math.max(k, shortlist)
    val top = graft.plans.TopK.perKey(scored, Seq(col("query_id")),
      Seq(col("score").desc, col("neighbor_id").asc), sl)
    if (shortlist > k) Pq.refine(top, pruned, queries, vecCol, idCol, k)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      top.withColumn("rank", row_number().over(w).cast("long"))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"))
    }
  }

  /** The drift-informed re-train policy made CONCRETE: per-cell occupancy
    * of the index NOW vs the snapshot taken at build time — when new data
    * stops distributing the way the quantizer was trained for, recall
    * degrades (hot cells over-fill, probes miss), and the total-variation
    * distance of the two occupancy distributions is the scalar to alert
    * on (the warehouse_drift shape, applied to the index's own routing).
    *
    * Output: (cell_id, n_built, n_now, p_built, p_now, abs_diff), one
    * row per cell ever observed — TVD = Σ abs_diff / 2. Cost: one
    * aggregate over the corpus's cell_id column plus an nlist-sized
    * join; nothing corpus-sized shuffles twice. The caller owns the
    * threshold (rebuild when TVD exceeds it); AnnIndexSpec pins zero
    * drift at build time, growth under a skewed append, and invariance
    * across compaction.
    */
  def routingDrift(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val built = spark.read.parquet(s"$dir/cell_stats")
      .select(col("cell_id").cast("long").as("cell_id"), col("n_built"))
    val now = readCorpus(spark, dir)
      .groupBy("cell_id").agg(count(lit(1)).as("n_now"))
    built.join(now, Seq("cell_id"), "full_outer")
      .select(col("cell_id"),
        coalesce(col("n_built"), lit(0L)).as("n_built"),
        coalesce(col("n_now"), lit(0L)).as("n_now"))
      .withColumn("p_built",
        col("n_built").cast("double") / sum(col("n_built")).over(w).cast("double"))
      .withColumn("p_now",
        col("n_now").cast("double") / sum(col("n_now")).over(w).cast("double"))
      .select(col("cell_id"), col("n_built"), col("n_now"),
        round(col("p_built"), 6).as("p_built"),
        round(col("p_now"), 6).as("p_now"),
        round(abs(col("p_built") - col("p_now")), 6).as("abs_diff"))
  }

  /** The drift-informed re-train policy made RUNNABLE: measure
    * [[routingDrift]]'s total-variation distance, and when it exceeds
    * `tvdThreshold` rebuild the IVF index from its OWN rows — fresh
    * k-means centroids over the current corpus, every vector re-routed,
    * `cell_stats` re-snapshotted (TVD returns to 0 by construction).
    * The caller still owns the threshold and the schedule; this helper
    * owns the mechanics. Returns (measured TVD, whether a rebuild ran).
    *
    * The corpus snapshots to `corpus__retrain` parquet before the
    * rebuild (buildIvf overwrites `corpus` while the retrain input is
    * still being read — and a disk-backed snapshot, unlike a
    * localCheckpoint, survives executor loss during the corpus-scale
    * rebuild); the temp is deleted after. IVFADC family: rebuild is
    * [[buildIvfAdc]] from the same snapshot pattern — codebooks retrain
    * with the pivots, so the caller triggers it explicitly when code
    * drift (not just routing drift) warrants the cost.
    */
  def maintainIvf(spark: SparkSession, dir: String, vecCol: String,
                  idCol: String, tvdThreshold: Double, nlist: Int,
                  iters: Int): (Double, Boolean) =
    maintain(spark, dir, tvdThreshold) { snapped =>
      buildIvf(snapped, vecCol, idCol, dir, nlist, iters)
    }(vecCol, idCol)

  /** [[maintainIvf]] for an IVFADC index: the rebuild retrains pivots
    * AND codebooks from the snapshot ([[buildIvfAdc]]) — routing drift
    * is the trigger here too, but the caller should weigh the heavier
    * cost (the PQ model retrains with the quantizer).
    */
  def maintainIvfAdc(spark: SparkSession, dir: String, vecCol: String,
                     idCol: String, tvdThreshold: Double, nlist: Int,
                     m: Int = 8, ksub: Int = 16,
                     iters: Int = 3): (Double, Boolean) =
    maintain(spark, dir, tvdThreshold) { snapped =>
      buildIvfAdc(snapped, vecCol, idCol, dir, nlist, m, ksub, iters)
    }(vecCol, idCol)

  private def maintain(spark: SparkSession, dir: String,
                       tvdThreshold: Double)(rebuild: DataFrame => Unit)(
                       vecCol: String, idCol: String): (Double, Boolean) = {
    val tvd = routingDrift(spark, dir)
      .agg(sum(col("abs_diff")) / 2).head().getDouble(0)
    if (tvd <= tvdThreshold) (tvd, false)
    else {
      val snap = new org.apache.hadoop.fs.Path(s"$dir/corpus__retrain")
      val fs = snap.getFileSystem(spark.sparkContext.hadoopConfiguration)
      readCorpus(spark, dir).select(col(idCol), col(vecCol))
        .write.mode("overwrite").parquet(snap.toString)
      rebuild(spark.read.parquet(snap.toString))
      fs.delete(snap, true)
      (tvd, true)
    }
  }

  // ------------------------------------------------------------ compaction

  /** Per-cell small-file compaction for a persisted index corpus (either
    * family): repeated [[appendIvf]]/[[appendIvfAdc]] batches leave one
    * file per touched cell per batch; this rewrites the corpus with each
    * cell hash-routed to exactly one task — ONE file per cell partition —
    * through a temp-then-swap (write `corpus__compact`, swap directories,
    * drop the old). A concurrent reader sees either the old or the new
    * contents, never a MIX — but the swap is two non-atomic renames, so
    * there is a brief window in which `corpus` is absent entirely (a
    * reader in that instant fails its listing), and a crash inside the
    * window leaves the index parked at `corpus__old`; [[readCorpus]]
    * recovers that state on the next open by renaming it back.
    * Partition layout and row contents are preserved exactly; returns
    * (filesBefore, filesAfter).
    */
  def compactIvf(spark: SparkSession, dir: String): (Int, Int) =
    // lease-guarded: a DIRECT compact while an ingest lane's drain holds
    // the index refuses with the holder's name; the lanes' own hooks
    // pass through (withLease is re-entrant within one control flow —
    // the r12 verdict #5 discipline, extended to the ANN ops in r13)
    Lease.withLease(spark, dir, "AnnIndex.compactIvf") {
      compactIvfImpl(spark, dir)
    }

  private def compactIvfImpl(spark: SparkSession, dir: String): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val corpusPath = new org.apache.hadoop.fs.Path(s"$dir/corpus")
    val fs = corpusPath.getFileSystem(conf)
    def countFiles(p: org.apache.hadoop.fs.Path): Int = {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = countFiles(corpusPath)
    // one shuffle partition per distinct cell → exactly one file per cell
    val df = readCorpus(spark, dir)
    val nCells = df.select("cell_id").distinct().count().toInt.max(1)
    StoreProtocol.rewrite(fs, corpusPath, "__compact", "compactIvf") { tmp =>
      df.repartition(nCells, col("cell_id"))
        .write.mode("overwrite").partitionBy("cell_id")
        .parquet(tmp.toString)
    }
    (before, countFiles(corpusPath))
  }

  // ------------------------------------------------------------- retraction

  /** Retraction from a persisted index (either family — the corpus
    * layout is shared): drop every row whose `idCol` appears in `ids`,
    * rewriting ONLY the cell partitions the retracted ids live in. One
    * semi-join finds the touched cells (bounded collect, ≤ nlist); the
    * survivors of those cells snapshot to a temp (Spark refuses a plan
    * that reads the path it overwrites) and dynamically overwrite their
    * partitions; a cell whose every row is retracted gets no rows in
    * the rewrite — dynamic overwrite would leave its old files — so
    * fully-emptied cell directories are deleted explicitly. Every
    * untouched cell's files never move: at 100 TB retraction cost
    * tracks the retracted ids' cells, not the index.
    *
    * Centroids/pivots/codebooks are untouched — the routing contract
    * stays frozen, exactly like [[appendIvf]]: a retracted vector stops
    * being returned and stops screening off its near-dups
    * (re-admission works, StreamingSpec pins it), while `cell_stats`
    * keeps the BUILD-time baseline so [[routingDrift]] correctly
    * reports the distribution shift deletions cause. Returns the
    * number of rows removed. Single-writer, like every maintenance
    * operator here.
    */
  def forgetIvf(spark: SparkSession, dir: String, ids: DataFrame,
                idCol: String): Long =
    // lease-guarded like [[compactIvf]]
    Lease.withLease(spark, dir, "AnnIndex.forgetIvf") {
      forgetIvfImpl(spark, dir, ids, idCol)
    }

  private def forgetIvfImpl(spark: SparkSession, dir: String, ids: DataFrame,
                            idCol: String): Long = {
    val corpus = readCorpus(spark, dir)
    val keys = ids.select(col(idCol)).distinct()
    val touched = corpus.join(keys, Seq(idCol), "left_semi")
      .groupBy("cell_id").agg(count(lit(1)).as("n")).collect() // bounded: <= nlist
    if (touched.isEmpty) return 0L
    val removed = touched.map(_.getLong(1)).sum
    val touchedCells = touched.map(_.getLong(0)).sorted
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = new org.apache.hadoop.fs.Path(s"$dir/corpus__forget")
    val fs = snap.getFileSystem(conf)
    corpus.filter(col("cell_id").isin(touchedCells.toIndexedSeq: _*))
      .join(keys, Seq(idCol), "left_anti")
      .write.mode("overwrite").parquet(snap.toString)
    val kept = spark.read.parquet(snap.toString)
    val surviving = kept.select("cell_id").distinct()
      .collect().map(_.getLong(0)).toSet // bounded: <= nlist
    // retracting EVERY row is not a forget (the RetrievePipeline.forget
    // guard, r10 second-review catch): deleting all cell directories
    // would leave an unreadable corpus that wedges every later reader —
    // including a replaying retraction stream — so fail fast instead
    if (surviving.isEmpty) {
      val nCells = corpus.select("cell_id").distinct().count()
      require(touchedCells.length < nCells,
        "forgetIvf: retracting every remaining row — delete or rebuild " +
          "the index instead of forgetting its whole corpus")
    }
    // fully-emptied cell directories delete BEFORE the overwrite (r10
    // code-review catch): deleted after, a crash between the overwrite
    // and the deletes would RESURRECT the retracted rows to every
    // reader — a compliance-visible failure; deleted first, a crash
    // merely leaves the removal half-applied, and the survivors'
    // rewrite (reading the already-written snapshot) replays cleanly
    touchedCells.filterNot(surviving).foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/corpus/cell_id=$c"), true)
    }
    // skip the overwrite when every touched cell emptied: a zero-row
    // dynamic write replaces nothing and can drop a stray rootless file
    // into the partitioned layout
    if (surviving.nonEmpty)
      kept.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell_id").parquet(s"$dir/corpus")
    fs.delete(snap, true)
    removed
  }
}
