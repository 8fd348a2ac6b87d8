package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-assembly operators for training-data pipelines: deterministic
  * sampling, mixture weighting, and sequence packing. All are map-only or
  * block-parallel — no global coordination — and every decision derives
  * from a portable md5 hash of the row id, so a re-run, a different
  * partitioning, or a different engine (the DuckDB oracle) selects the
  * SAME rows. That reproducibility-under-reshuffle is the property that
  * matters when a 100 TB corpus is sampled incrementally.
  */
object CorpusOps {

  /** Uniform [0,1) decision value for a row: 24-bit md5 of (salt, id).
    * Portable: `('0x' || substr(md5('s:SALT:' || id), 1, 6))::BIGINT /
    * 16777216.0` computes the identical value in ANSI SQL.
    */
  def hashUniform(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(s"s:$salt:"), id.cast("string"))), 1, 6), 16, 10)
      .cast("long") / lit(16777216.0)

  /** Deterministic corpus sampling: keep a row iff its hash-uniform value
    * is below `rate`. Map-only; stable under re-partitioning and re-runs
    * (unlike `df.sample`, whose selection depends on partition layout).
    */
  def sampleByHash(df: DataFrame, idCol: String, rate: Double,
                   salt: String = "graft"): DataFrame =
    df.filter(hashUniform(col(idCol), salt) < rate)

  /** Weighted mixture selection: per-key acceptance rates (e.g. by source
    * or language), same deterministic decision value. Keys absent from
    * `weights` fall back to `defaultWeight`. The standard way to re-weight
    * corpus composition without materializing per-source splits.
    */
  def mixtureSelect(df: DataFrame, idCol: String, keyCol: String,
                    weights: Map[String, Double], defaultWeight: Double = 0.0,
                    salt: String = "mix"): DataFrame = {
    val rate = weights.foldLeft(lit(defaultWeight)) { case (acc, (k, w)) =>
      when(col(keyCol) === k, lit(w)).otherwise(acc)
    }
    df.filter(hashUniform(col(idCol), salt) < rate)
  }

  /** Sequential sequence-packing: documents are laid out in id order into
    * a token stream and cut into fixed `budget` windows — the standard
    * concat-and-split packing for LLM pre-training. Each document gets the
    * bin where it STARTS plus its offset in the stream.
    *
    * Scale shape: a single global stream would serialize on one window
    * partition, so the corpus is first split into `blocks` deterministic
    * hash-blocks (portable md5 of the id) and packed within each block in
    * parallel — 1000 executors pack 1000 blocks without coordination, and
    * bin ids are globally unique as (block, bin).
    */
  def packSequential(df: DataFrame, idCol: String, tokensCol: Column,
                     budget: Int, blocks: Int = 32): DataFrame = {
    val block = pmod(
      conv(substring(md5(concat(lit("b:"), col(idCol).cast("string"))), 1, 6), 16, 10)
        .cast("long"), lit(blocks.toLong))
    val w = Window.partitionBy(col("block")).orderBy(col(idCol))
    df.select(col(idCol), tokensCol.cast("long").as("n_tokens"), block.as("block"))
      .withColumn("stream_start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id", floor(col("stream_start") / budget))
      .withColumn("bin_offset", col("stream_start") % budget)
  }

  /** Pack token-id sequences into EXACT fixed-length training blocks:
    * docs are hashed into `blocks` independent streams (same scheme as
    * [[packSequential]]), concatenated in id order within each stream,
    * and the concatenation is cut every `blockSize` tokens — each output
    * row is one training block with its ids in order (the final ragged
    * block of each stream keeps its remainder).
    *
    * Scale shape: the per-stream prefix window runs over DOCS (streams ×
    * docs-per-stream — pick `blocks` ≥ cluster parallelism), then ONE
    * token-level explode assigns every token its global stream position
    * map-only, and one shuffle by (stream, bin) reassembles blocks with
    * an in-row sort. Token order inside and across docs is preserved
    * exactly — the property a next-token objective depends on.
    */
  def packTokens(df: DataFrame, idCol: String, tokensCol: String,
                 blockSize: Int, blocks: Int = 32): DataFrame = {
    val block = pmod(
      conv(substring(md5(concat(lit("b:"), col(idCol).cast("string"))), 1, 6), 16, 10)
        .cast("long"), lit(blocks.toLong))
    val w = Window.partitionBy(col("block")).orderBy(col(idCol))
    df.select(col(idCol), col(tokensCol).as("toks"), block.as("block"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("stream_start", sum(col("n")).over(w) - col("n"))
      .select(col("block"), col("stream_start"), posexplode(col("toks")).as(Seq("i", "tok")))
      .withColumn("pos", col("stream_start") + col("i"))
      .withColumn("bin_id", floor(col("pos") / blockSize).cast("long"))
      .groupBy(col("block"), col("bin_id"))
      .agg(count(lit(1)).as("n_tokens"),
        transform(array_sort(collect_list(struct((col("pos") % blockSize).as("off"),
          col("tok").as("t")))), x => x("t")).as("token_ids"))
  }

  /** Deterministic stratified sampling: the `n` lowest-hash rows per
    * stratum (per language, per source domain — the per-group quota that
    * balances corpus composition). Selection order is the portable md5
    * hash with `idCol` as tiebreak, so the sample is reproducible under
    * any partitioning and by the SQL oracle.
    *
    * Runs through the TopKPerKey physical operator: bounded per-key heaps,
    * ≤ n rows per stratum per task reach the shuffle. The window
    * formulation (`row_number() over (partition by key order by hash)`)
    * would shuffle and sort the FULL corpus to discard all but n rows per
    * stratum — at 100 TB the difference is the job.
    */
  def sampleStratified(df: DataFrame, idCol: String, keyCol: String, n: Int,
                       salt: String = "strat"): DataFrame =
    graft.plans.TopK.perKey(
        df.withColumn("__h", hashUniform(col(idCol), salt)),
        Seq(col(keyCol)), Seq(col("__h").asc, col(idCol).asc), n)
      .drop("__h")

  /** Deterministic global training-order shuffle: every row gets a unique
    * position 1..N in (portable md5 hash, id) order — the random-but-
    * reproducible permutation a training run reads the corpus in. No
    * single-partition window: range-repartition on the hash, local ranks,
    * partition-count prefix offsets (the zipWithIndex pattern shared with
    * Warehouse.assignSurrogateIds).
    */
  def globalShuffle(df: DataFrame, idCol: String, salt: String = "shuffle"): DataFrame = {
    val (ranked, _) = rankByRange(
      df.withColumn("__h", hashUniform(col(idCol), salt)),
      Seq(col("__h"), col(idCol)), "shuffle_pos")
    ranked.drop("__h")
  }

  /** Deterministic stratified train/validation/test split — the holdout
    * partitioning every training pipeline cuts before anything else.
    * `fractions` (name, fraction) must sum to 1; every row gets exactly
    * one split label, reproducibly under any partitioning and re-run.
    *
    *  - `exact = true` (default, the oracle anchor): EXACT per-stratum
    *    quotas — rows rank within their stratum by (portable hash, id)
    *    and the first ⌈cum·n⌉ go to each split. One shuffle by stratum
    *    (the inherent cost of exact quotas: a per-stratum total order).
    *  - `exact = false` (the 100 TB path): map-only hash thresholding —
    *    u < cum picks the split, proportions hold in expectation with
    *    √n deviation, NO shuffle at all. Same decision hash, so a row's
    *    assignment never depends on the rest of the corpus — new data
    *    can be split incrementally without re-ranking history.
    *
    * Output: (idCol, strataCol, split).
    */
  def splitStratified(df: DataFrame, idCol: String, strataCol: String,
                      fractions: Seq[(String, Double)],
                      salt: String = "split",
                      exact: Boolean = true): DataFrame = {
    require(fractions.nonEmpty, "split needs at least one fraction")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    require(fractions.forall(_._2 > 0.0), "every fraction must be positive")
    val cums = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    if (exact) {
      val w = Window.partitionBy(col(strataCol))
        .orderBy(col("__h"), col(idCol))
      val cw = Window.partitionBy(col(strataCol))
      val base = df.select(col(idCol), col(strataCol))
        .withColumn("__h", hashUniform(col(idCol), salt))
        .withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(cw))
      val split = fractions.init.zip(cums.init)
        .foldRight(lit(fractions.last._1): Column) {
          case (((name, _), c), acc) =>
            when(col("__rn") <= ceil(lit(c) * col("__n").cast("double")),
              lit(name)).otherwise(acc)
        }
      base.select(col(idCol), col(strataCol), split.as("split"))
    } else {
      val u = hashUniform(col(idCol), salt)
      val split = fractions.init.zip(cums.init)
        .foldRight(lit(fractions.last._1): Column) {
          case (((name, _), c), acc) => when(u < lit(c), lit(name)).otherwise(acc)
        }
      df.select(col(idCol), col(strataCol), split.as("split"))
    }
  }

  /** Curriculum ordering: quality-ranked round-robin interleave across
    * sources — position 1..|sources| takes each source's best document,
    * the next block each source's second best, and so on (sources
    * exhaust as they run out). The standard "good data first, balanced
    * across domains" read order for curriculum training, computed
    * WITHOUT any single-task sort: the per-source rank comes from the
    * range-partitioned per-key ranker ([[rankByRangePerKey]] — a
    * production corpus has FEW, HUGE sources, so a
    * `Window.partitionBy(source)` row_number would funnel each source's
    * billions of rows through one task's sort; range partitioning by
    * (source, score desc, id) spreads every source across many tasks
    * and stitches ranks with per-(partition, source) prefix offsets),
    * then the total order over (src_rank, source) comes from the same
    * gap-free range ranker ([[globalShuffle]]'s machinery).
    *
    * `rangeRank = false` keeps the single-task-per-source window
    * formulation as the measurable baseline for the skew A/B (SURVEY.md
    * §8.6; identical output — the ordering is the same either way).
    *
    * Output: (idCol, keyCol, src_rank, position) — reading in
    * `position` order IS the curriculum.
    */
  def curriculumOrder(df: DataFrame, idCol: String, keyCol: String,
                      scoreCol: Column, rangeRank: Boolean = true): DataFrame = {
    val base = df.withColumn("__score", scoreCol)
      .select(col(idCol), col(keyCol), col("__score"))
    val ranked =
      if (rangeRank)
        rankByRangePerKey(base, col(keyCol),
          Seq(col("__score").desc, col(idCol).asc), "src_rank")
      else {
        val w = Window.partitionBy(col(keyCol))
          .orderBy(col("__score").desc, col(idCol))
        base.withColumn("src_rank", row_number().over(w).cast("long"))
      }
    val (pos, _) = rankByRange(ranked,
      Seq(col("src_rank"), col(keyCol)), "position")
    pos.select(col(idCol), col(keyCol), col("src_rank"), col("position"))
  }

  /** Gap-free 1-based global rank by `orderCols` WITHOUT a global window:
    * range partition + local sort, per-partition counts (a bounded
    * collect) turn into prefix offsets, and the rank is a per-partition
    * window plus the offset. Returns (ranked df, total row count). The
    * partition layout is pinned (localCheckpoint) before the counts job
    * and the rank job both read it — AQE may otherwise re-plan the range
    * exchange between the two.
    */
  private def rankByRange(df: DataFrame, orderCols: Seq[Column],
                          rankCol: String): (DataFrame, Long) = {
    val sorted = df.repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val withPart = sorted.withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val counts = withPart.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val prefix = counts.scanLeft(0L)(_ + _._2).zip(counts).map {
      case (start, (pid, _)) => pid -> start
    }.toMap
    val prefixUdf = udf((pid: Int) => prefix(pid))
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    (withPart
      .withColumn(rankCol, row_number().over(w).cast("long") + prefixUdf(col("__pid")))
      .drop("__pid"),
      counts.map(_._2).sum)
  }

  /** Gap-free 1-based rank WITHIN each key group by `orderCols`, WITHOUT
    * a per-key single-task sort: range partition by (key, orderCols) —
    * every key group spans a contiguous RUN of partitions, however huge —
    * local sort, then per-(partition, key) counts (a bounded collect:
    * ≤ #partitions + #distinct-keys − 1 rows, since each key's run of
    * partitions is contiguous; the key domain here is corpus SOURCES,
    * few by construction) turn into per-key prefix offsets, and the rank
    * is a per-(partition, key) window plus the offset. The per-key twin
    * of [[rankByRange]]; the layout is pinned (localCheckpoint) so the
    * counts job and the rank job read one partitioning.
    *
    * The offset lookup keys on the STRING rendering of the key column —
    * distinct key values of one column type never collide as strings for
    * the string/integral types sources use (the Cdc.rowHash contract).
    *
    * The prefix-offset map collects to the driver and rides to executors
    * in a udf closure, so its size is the helper's cardinality contract:
    * ≤ #partitions + #distinct-keys − 1 entries (each key's partition
    * run is contiguous). Curriculum SOURCES are few by construction, but
    * the helper is generic — a high-cardinality keyCol would silently
    * build a multi-million-entry driver map, so the group count is
    * checked BEFORE anything collects (the Sketches.heavyHitters
    * maxGroups discipline) and fails fast naming the fallback.
    */
  private[graft] def rankByRangePerKey(df: DataFrame, keyCol: Column,
                                       orderCols: Seq[Column],
                                       rankCol: String,
                                       maxOffsets: Int = 100000): DataFrame = {
    val all = keyCol.asc +: orderCols
    val sorted = df.repartitionByRange(all: _*)
      .sortWithinPartitions(all: _*)
    val withPart = sorted.withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val grouped = withPart
      .groupBy(col("__pid"), keyCol.cast("string").as("__k"))
      .count()
    val nGroups = grouped.count() // cheap re-agg over the pinned layout
    require(nGroups <= maxOffsets,
      s"rankByRangePerKey: $nGroups (partition, key) offset entries exceed " +
        s"maxOffsets=$maxOffsets — the key column is too high-cardinality for " +
        "the driver-side prefix map; use the window formulation " +
        "(curriculumOrder(rangeRank = false)) or rank within coarser keys")
    val counts = grouped.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val prefix: Map[(Int, String), Long] =
      counts.groupBy(_._2).iterator.flatMap { case (k, rows) =>
        val byPid = rows.sortBy(_._1)
        byPid.map(_._3).scanLeft(0L)(_ + _).zip(byPid).map {
          case (start, (pid, _, _)) => (pid, k) -> start
        }
      }.toMap
    val prefixUdf = udf((pid: Int, k: String) => prefix((pid, k)))
    val w = Window.partitionBy(col("__pid"), keyCol)
      .orderBy(orderCols: _*)
    withPart
      .withColumn(rankCol, row_number().over(w).cast("long")
        + prefixUdf(col("__pid"), keyCol.cast("string")))
      .drop("__pid")
  }

  /** Distributed EXACT equi-depth bucketing: every bucket holds ⌊n/b⌋ or
    * ⌈n/b⌉ rows by construction (`bucket = ⌊(rank−1)·b / n⌋` over the
    * gap-free [[rankByRange]] rank) — the histogram boundaries a query
    * optimizer or a curriculum scheduler wants, computed with one range
    * shuffle and NO single-partition window, and exact where a
    * sketch-based quantile is approximate. Ties order by (value, id), so
    * the assignment is total-order deterministic and SQL-portable.
    */
  def equiDepthBuckets(df: DataFrame, idCol: String, valueCol: String,
                       buckets: Int): DataFrame = {
    val (ranked, n) = rankByRange(df, Seq(col(valueCol), col(idCol)), "__rank")
    ranked.withColumn("bucket",
        floor((col("__rank") - 1).cast("double") * buckets / n.toDouble).cast("long"))
      .drop("__rank")
  }

  /** Temperature-scaled mixture sampling: per-key acceptance rates derived
    * from the corpus itself so the kept distribution follows p_k ∝ n_k^α
    * (α < 1 upsamples rare keys relative to their share — the standard
    * multilingual/any-source rebalancing scheme). `targetFraction` fixes
    * the expected kept share of the whole corpus; per-key rates are capped
    * at 1 (a key cannot contribute more rows than it has).
    *
    * Two passes: a count aggregate builds the (tiny) per-key rate table,
    * which broadcast-joins back onto the corpus for the same deterministic
    * hash decision as [[sampleByHash]] — map-only after the one count agg,
    * reproducible under any partitioning. Rates are rounded to 6dp so the
    * SQL oracle computes the identical boundary.
    */
  def mixtureTemperature(df: DataFrame, idCol: String, keyCol: String,
                         alpha: Double, targetFraction: Double,
                         salt: String = "temp"): DataFrame = {
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("__n"))
    val total = sum(col("__n")).over() // over the handful of keys, post-agg
    val mass = sum(pow(col("__n"), alpha)).over()
    val rates = counts
      .withColumn("__rate",
        round(least(lit(1.0),
          lit(targetFraction) * total * pow(col("__n"), alpha) / (mass * col("__n"))), 6))
      .select(col(keyCol), col("__rate"))
    df.join(broadcast(rates), Seq(keyCol))
      .filter(hashUniform(col(idCol), salt) < col("__rate"))
      .drop("__rate")
  }

  /** Per-domain cap: keep at most `n` rows per domain/source, preferring
    * the highest `scoreCol` (ties broken by lowest id) — the standard
    * web-curation guard against any single domain dominating the corpus.
    *
    * Same TopKPerKey shape as [[sampleStratified]]: bounded per-key heaps,
    * ≤ n rows per domain per task reach the shuffle. A `row_number()`
    * window would shuffle and sort the FULL corpus to keep n rows per
    * domain; with millions of domains and billions of pages the heap
    * formulation is the one that survives.
    */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
                scoreCol: Column, n: Int): DataFrame =
    graft.plans.TopK.perKey(
        df.withColumn("__score", scoreCol),
        Seq(col(domainCol)), Seq(col("__score").desc, col(idCol).asc), n)
      .drop("__score")

  /** Sliding-window document chunking: split each document's token stream
    * into `chunkTokens`-token windows advancing by `stride` (stride <
    * chunkTokens ⇒ overlapping context windows — the standard long-document
    * treatment for pretraining and retrieval corpora). The last window may
    * be short; windows stop once the document is covered (no fully-redundant
    * tail). Map-only: one `sequence` explode + in-row `slice`, no shuffle,
    * no state — the shape that runs on a 100 TB corpus as a pure map stage.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunkTokens and stride must be positive")
    val toks = TextAnalysis.tokens(col(textCol))
    val lastIdx = when(col("__n") <= chunkTokens, lit(0L))
      .otherwise(ceil((col("__n") - chunkTokens).cast("double") / stride).cast("long"))
    df.select(col(idCol), toks.as("__t"))
      .withColumn("__n", size(col("__t")).cast("long"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), lastIdx)))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__t"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkTokens)).as("__c"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__c")).cast("long").as("n_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-ES): each row draws the portable hash-uniform u and keys
    * by u^(1/w); the k largest keys are exactly a weight-proportional
    * sample without replacement. Global top-k plans as
    * TakeOrderedAndProject — per-partition bounded heaps, never a full
    * sort — and the decision is reproducible under any partitioning (and
    * by the SQL oracle; keys round to 9 dp so cross-engine libm `pow`
    * can't flip an ordering, ties break by id). Rows with w ≤ 0 are
    * excluded by definition.
    */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: Column, k: Int,
                     salt: String = "wsample"): DataFrame =
    df.filter(weightCol > 0)
      .withColumn("__wkey",
        round(pow(hashUniform(col(idCol), salt), lit(1.0) / weightCol), 9))
      .orderBy(col("__wkey").desc, col(idCol).asc)
      .limit(k)
      .drop("__wkey")

  /** Quality-ordered corpus selection under a TOKEN budget: keep the
    * best-scored documents (ties by id) while the inclusive running token
    * total stays ≤ `budget` — the data-selection primitive behind
    * "train on the top N tokens of the pool".
    *
    * Scale shape: the running total is a distributed prefix sum, NOT a
    * global window — range-repartition on (score desc, id), local sorted
    * sums, per-partition totals (a partition-count-bounded collect) turned
    * into prefix offsets. Same pattern as [[rankByRange]]; the layout is
    * pinned (localCheckpoint) so the totals job and the cumsum job read
    * one partitioning.
    */
  def selectByBudget(df: DataFrame, idCol: String, scoreCol: Column,
                     tokensCol: Column, budget: Long): DataFrame = {
    val sorted = df.withColumn("__score", scoreCol)
      .withColumn("__tok", tokensCol.cast("long"))
      .repartitionByRange(col("__score").desc, col(idCol).asc)
      .sortWithinPartitions(col("__score").desc, col(idCol).asc)
    val withPart = sorted.withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val sums = withPart.groupBy("__pid").agg(sum("__tok").as("s")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val prefix = sums.scanLeft(0L)(_ + _._2).zip(sums).map {
      case (start, (pid, _)) => pid -> start
    }.toMap
    val prefixUdf = udf((pid: Int) => prefix(pid))
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col("__score").desc, col(idCol).asc)
    withPart
      .withColumn("__cum", sum(col("__tok")).over(w) + prefixUdf(col("__pid")))
      .filter(col("__cum") <= budget)
      .drop("__pid", "__cum", "__score", "__tok")
  }

  /** Token-length histogram: docs and token mass per power-of-two-ish
    * length bucket — the composition summary a data curator reads before
    * choosing packing budgets and length filters.
    */
  def lengthBuckets(df: DataFrame, idCol: String, tokensCol: Column,
                    bucketWidth: Int = 64, maxBucket: Int = 7): DataFrame =
    df.select(col(idCol), tokensCol.cast("long").as("n_tokens"))
      .withColumn("bucket", least(floor(col("n_tokens") / bucketWidth), lit(maxBucket)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
  /** PageRank centrality of SOURCES in the cross-source span-
    * contamination graph — the web-graph seed-propagation pattern
    * applied to corpus composition (r13 verdict #5): sources collapse
    * to a (shingle, source) bipartite projection (the
    * corpus_overlap_matrix chain), pairs sharing k-token spans become
    * weighted undirected edges (weight = distinct shared spans, hub
    * shingles df-capped so boilerplate cannot mint |sources|² rows),
    * and [[Graph.pageRank]] runs `iters` fixed synchronous rounds over
    * the model-sized source graph. A high rank marks a RE-PUBLICATION
    * HUB — content that flows everywhere (syndication, mirrors, spam
    * networks); curation uses it as a down-weighting prior
    * ([[graft.pipeline.CuratePipeline]]'s `sourceRankCap`).
    *
    * Scale shape: one corpus-scale shingle pass (the span chain the
    * overlap matrix already pays), then everything is |sources|-sized —
    * the rank iterations never touch documents. Sources with NO shared
    * spans are absent (no edges — callers treat absence as the
    * baseline prior); an overlap-free corpus returns an empty frame
    * rather than erroring.
    */
  def sourceRank(docs: DataFrame, textCol: String, idCol: String,
                 sourceCol: String, k: Int = 8, maxShingleDf: Int = 100,
                 iters: Int = 5,
                 spans: Option[DataFrame] = None): DataFrame = {
    // `spans`: a caller that already shingled the same (docs, k) — a
    // pipeline whose dedup/decontam stages just paid the explode — can
    // hand its stream in (the SpanStore.append reuse contract: the
    // shingle explode is the dominant corpus-scale cost here)
    val ss = spans.getOrElse(Dedup.spanShingles(docs, textCol, idCol, k))
      .join(docs.select(col(idCol), col(sourceCol)), idCol)
      .select(col("shingle"), col(sourceCol).as("source"))
    val sim = Graph.coNeighborJaccard(ss, "shingle", "source",
        threshold = 0.0, maxLeftDegree = maxShingleDf)
      .localCheckpoint(true) // model-sized (≤ |sources|²)
    if (sim.isEmpty)
      return sim.select(col("id_a").as("source"),
        lit(0.0).as("rank")).limit(0)
    val edges = sim.select(col("id_a").as("src"), col("id_b").as("dst"),
        col("shared").as("w"))
      .unionByName(sim.select(col("id_b").as("src"), col("id_a").as("dst"),
        col("shared").as("w")))
    Graph.pageRank(edges, "src", "dst", "w", iters)
      .select(col("node").as("source"), col("rank"))
  }

}
