package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame}

/** BM25 ranked retrieval over a document corpus — the keyword-search half
  * of a training-data pipeline (mining a corpus for topic-relevant
  * documents, building retrieval eval sets, sourcing seed documents).
  *
  * Scale shape (reference surface has no retrieval; this is a pipeline
  * extension, cf. Robertson & Zaragoza 2009, "The Probabilistic Relevance
  * Framework: BM25 and Beyond"):
  *
  *  - The inverted index is two partial+final hash aggregates over the
  *    token explode — (doc, token) term frequencies and per-token document
  *    frequencies. Both combine map-side; no row carries text after the
  *    explode.
  *  - Query terms are a broadcast semi-join: the index is PRUNED to the
  *    query vocabulary before anything is scored, so a 100 TB index
  *    contributes only its matching postings lists to the shuffle.
  *  - Corpus-level scalars (N, avgdl) are an uncorrelated scalar
  *    subquery: one bounded 1-row evaluation, injected into the scoring
  *    expression as literals.
  *  - Per-(query, doc) score summation is funneled through decimal, so
  *    the result is bit-identical under any partitioning (float addition
  *    is not associative; decimal addition is).
  *  - Top-k per query runs through graft's TopKPerKey operator: bounded
  *    map-side heaps, ≤ k rows per (query, task) shuffled — the candidate
  *    set is never globally sorted.
  */
object Retrieval {

  /** (doc, token, tf) postings + per-doc token counts, from whitespace
    * tokens (lower/trim — the engine's standard oracle-portable
    * tokenization). Empty tokens (consecutive spaces) are dropped.
    */
  def postings(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    graft.Tables.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-k: for each (query_id, term) row in `queryTerms`, documents
    * are scored with the Robertson idf `ln((N - df + 0.5)/(df + 0.5) + 1)`
    * and tf saturation `tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))`.
    * Duplicate query terms are collapsed (set semantics). Returns
    * (query_id, rank, doc id, score), ≤ k rows per query, score rounded
    * to 6 decimals.
    */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queryTerms: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // postings feed three consumers (doc lengths, document frequencies,
    // the scored join) — materialize so the corpus explode+aggregate runs
    // once, via eager localCheckpoint rather than cache: the scored result
    // is returned lazily, so an unmatched cache would accumulate blocks
    // across invocations (ContextCleaner reclaims checkpoint blocks once
    // the result is dropped — the 5112cb9 discipline).
    val post = postings(docs, textCol, idCol).localCheckpoint(true)
    val docLen = post.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    // df over the postings table: one row per (doc, token) by construction
    val docFreq = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // corpus scalars (N, avgdl): evaluated once and injected as literals —
    // how an engine executes an uncorrelated scalar subquery (cf.
    // Similarity.pivotLiteral: a bounded 1-row collect, never a per-row
    // join; the sum of longs is exact, so the value is deterministic)
    val statsRow = docLen.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")).head()
    scoreBm25(post, docLen, docFreq, statsRow.getLong(0),
      statsRow.getDouble(1), idCol, queryTerms, k, k1, b)
  }

  /** The scoring tail shared by [[bm25TopK]] and [[bm25TopKFromIndex]]:
    * prune to the query vocabulary, Robertson idf + tf saturation,
    * decimal-funneled per-(query, doc) sums, TopKPerKey.
    */
  private def scoreBm25(post: DataFrame, docLen: DataFrame,
                        docFreq: DataFrame, nDocs: Long, avgdl: Double,
                        idCol: String, queryTerms: DataFrame, k: Int,
                        k1: Double, b: Double): DataFrame = {
    val terms = queryTerms.select(col("query_id"), col("term")).distinct()
    // prune the index to the query vocabulary FIRST: at corpus scale this
    // keeps every downstream join proportional to the matched postings,
    // not the index. The terms side is query-sized — always broadcast.
    val matched = post.join(broadcast(terms), post("token") === col("term"))
    val prunedDf = docFreq.join(
      broadcast(terms.select(col("term").as("token")).distinct()),
      Seq("token"), "left_semi")
    val scored = matched
      .join(docLen, idCol)
      .join(broadcast(prunedDf), "token")
      .withColumn("idf",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      // decimal funnel: per-term contributions are deterministic doubles;
      // their SUM must not depend on shuffle arrival order
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("contrib").cast(DecimalType(38, 12))).cast("double").as("score"))
    val top = graft.plans.TopK.perKey(scored, Seq(col("query_id")),
      Seq(col("score").desc, col(idCol).asc), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col(idCol),
        round(col("score"), 6).as("score"))
  }

  /** Persist the BM25 inverted index under `dir` — the lexical twin of
    * [[AnnIndex.buildIvf]]: `postings` (id, token, tf), `doc_len`,
    * `doc_freq`, and the 1-row `stats` (n_docs, avgdl, id_col) written
    * LAST as the commit marker (the TokenizerArtifact discipline — a
    * crashed build refuses to serve and the next build overwrites).
    * Build cost is the two partial+final aggregates over the token
    * explode, paid ONCE; every later query scores from the written
    * tables.
    */
  def buildBm25Index(docs: DataFrame, textCol: String, idCol: String,
                     dir: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(statsPath, true)
    // each derived table builds from the one WRITTEN before it, never
    // from an executor-pinned frame: a localCheckpoint of a corpus-sized
    // postings table truncates lineage, so a lost executor would fail
    // the build — the written parquet IS the reusable materialization
    postings(docs, textCol, idCol)
      .write.mode("overwrite").parquet(s"$dir/postings")
    val post = spark.read.parquet(s"$dir/postings")
    post.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
      .write.mode("overwrite").parquet(s"$dir/doc_len")
    post.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/doc_freq")
    val statsRow = spark.read.parquet(s"$dir/doc_len")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")).head()
    Seq((statsRow.getLong(0), statsRow.getDouble(1), idCol))
      .toDF("n_docs", "avgdl", "id_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** [[bm25TopK]] answered from a PERSISTED index ([[buildBm25Index]]):
    * no corpus scan, no training aggregate — the matched-postings join
    * prunes the written postings to the (broadcast) query vocabulary,
    * so query cost tracks the matching postings lists, never the index.
    * Results are bit-identical to the in-run operator at the same
    * corpus and parameters (spec-pinned).
    */
  /** Heal a [[forgetBm25]] crashed between its two renames (the whole
    * index parked at `dir__old`) — run before any read of the index
    * directory, the AnnIndex.readCorpus discipline at whole-index grain
    * (the four tables must move together: a postings/doc_freq mix of two
    * generations would mis-score every query).
    */
  private def healIndex(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    StoreProtocol.heal(
      path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** Retraction from the persisted index ([[buildBm25Index]] layout):
    * drop the retracted docs' postings and doc_len rows, RE-DERIVE
    * doc_freq and the corpus scalars from the surviving postings (df
    * and avgdl genuinely change when documents leave — a retracted
    * doc must stop influencing every OTHER doc's scores too), and swap
    * the whole index directory through `__old` so the four tables move
    * together. The result is BIT-IDENTICAL to an index built fresh
    * over the surviving corpus (spec-pinned): postings rows are
    * per-doc-disjoint and every derived table is a pure function of
    * the postings. Forgetting every document un-commits the index
    * (stats marker removed — nothing left to serve). Returns the
    * number of documents removed. Single-writer, like every graft
    * maintenance operator.
    */
  def forgetBm25(spark: org.apache.spark.sql.SparkSession, dir: String,
                 ids: DataFrame): Long =
    // lease-guarded like the incremental twin (r12 verdict #5 discipline)
    Lease.withLease(spark, dir, "Retrieval.forgetBm25") {
      forgetBm25Impl(spark, dir, ids)
    }

  private def forgetBm25Impl(spark: org.apache.spark.sql.SparkSession,
                             dir: String, ids: DataFrame): Long = {
    import spark.implicits._
    healIndex(spark, dir)
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath)) {
      // layout guard FIRST: an incremental index (meta + _commits, no
      // flat stats) must never be swept as "residue" — that is a
      // different store format, not a crashed un-commit
      require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta")) &&
          !StoreProtocol.hasCommitDir(fs, new org.apache.hadoop.fs.Path(dir)),
        s"forgetBm25: $dir holds an INCREMENTAL index — use forgetBm25Incremental")
      // a whole-corpus retraction crashed between its stats delete and
      // the table deletes leaves postings/doc_len/doc_freq bytes with no
      // marker — finish the un-commit instead of refusing, so a replayed
      // takedown batch completes the removal (the MediaHashStore.forget
      // discipline; r10 advice). The sweep fires ONLY on that residue
      // signature: a directory holding NONE of the flat tables is not a
      // crashed index, it is a wrong path — deleting it would destroy
      // arbitrary caller data, so that case stays a loud refusal.
      val residueTables = Seq("postings", "doc_len", "doc_freq").filter(t =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$t")))
      // the residue signature is FLAT tables only: an INCREMENTAL index
      // whose first ingest crashed before its meta write shows the same
      // stats-less face (tables, no meta, no _commits) but its tables
      // hold ingest= children where flat tables are leaf parquet dirs —
      // sweeping it would destroy a rebuildable-but-real orphan the
      // content feed's replay is about to overwrite in place (r11
      // advice). Refuse loudly; that state belongs to the incremental
      // entry points.
      val incrementalResidue = residueTables.exists(t =>
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$t")).exists(s =>
          s.isDirectory && s.getPath.getName.startsWith("ingest=")))
      require(!incrementalResidue,
        s"forgetBm25: $dir holds INCREMENTAL-layout residue (ingest= " +
          "children under its tables) — use forgetBm25Incremental; a " +
          "crashed first ingest replays in place and must not be swept")
      val residue = residueTables.nonEmpty
      val present = fs.exists(new org.apache.hadoop.fs.Path(dir))
      require(!present || residue,
        s"forgetBm25: no committed index at $dir (stats marker absent and " +
          "no flat-table residue — refusing to touch a directory that was " +
          "never a BM25 index)")
      if (residue) fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      return 0L
    }
    val idCol = spark.read.parquet(s"$dir/stats").head().getString(2)
    val docLen = spark.read.parquet(s"$dir/doc_len")
    // a ONE-column ids frame is taken as the id list whatever its name
    // (takedown feeds don't know the index's id column); a wider frame
    // must carry the index's own id column. Cast to the INDEX's key
    // type: joining a string feed against bigint ids would otherwise
    // coerce both sides to double and lose exactness above 2^53
    val keyType = docLen.schema(idCol).dataType
    val keys = (if (ids.columns.length == 1)
        ids.select(col(ids.columns.head).cast(keyType).as(idCol))
      else ids.select(col(idCol).cast(keyType))).distinct()
    // one scan answers removed AND whole-corpus retraction together
    val dlStats = docLen.join(keys.withColumn("__m", lit(1)), Seq(idCol), "left")
      .agg(count(lit(1)), count(col("__m"))).head()
    val (nDocs, removed) = (dlStats.getLong(0), dlStats.getLong(1))
    if (removed == 0L) return 0L
    val path = new org.apache.hadoop.fs.Path(dir)
    if (removed == nDocs) { // whole corpus retracted: un-commit
      // stats marker FIRST — from here every reader refuses cleanly; a
      // crash before the table deletes leaves unmarked residue the next
      // forget's entry sweep finishes (one recursive delete could drop
      // tables before the marker, leaving a committed-looking index with
      // data missing — r10 advice)
      fs.delete(statsPath, true)
      fs.delete(path, true)
      return removed
    }
    val tmp = new org.apache.hadoop.fs.Path(dir + "__forget")
    fs.delete(tmp, true)
    // the build discipline: each derived table from the one WRITTEN
    // before it; stats lands LAST inside the temp (a crash mid-rewrite
    // leaves an uncommitted temp, never a half-derived live index)
    spark.read.parquet(s"$dir/postings").join(keys, Seq(idCol), "left_anti")
      .write.mode("overwrite").parquet(s"$tmp/postings")
    val post = spark.read.parquet(s"$tmp/postings")
    post.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
      .write.mode("overwrite").parquet(s"$tmp/doc_len")
    post.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$tmp/doc_freq")
    val statsRow = spark.read.parquet(s"$tmp/doc_len")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")).head()
    Seq((statsRow.getLong(0), statsRow.getDouble(1), idCol))
      .toDF("n_docs", "avgdl", "id_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
    StoreProtocol.swapInto(fs, tmp, path, "forgetBm25")
    removed
  }

  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                        queryTerms: DataFrame, k: Int,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    healIndex(spark, dir)
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(statsPath),
      s"bm25TopKFromIndex: no committed index at $dir (stats marker absent)")
    val stats = spark.read.parquet(s"$dir/stats").head()
    val idCol = stats.getString(2)
    scoreBm25(spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/doc_len"),
      spark.read.parquet(s"$dir/doc_freq"),
      stats.getLong(0), stats.getDouble(1), idCol, queryTerms, k, k1, b)
  }

  // ------------------------------------------------- incremental BM25 index

  /** INCREMENTAL BM25 index — the lexical index's continuous-ingestion
    * form, closing the lifecycle asymmetry with the ANN family (IVF has
    * build/append/compact/retrain/forget; the flat BM25 index had
    * build/forget only, and rewriting derived tables per batch would be
    * O(index) per append — the wrong shape at 100 TB).
    *
    * Layout (the fuzzyDedupIngest state pattern): each ingest commits
    * FOUR tables under its own `ingest=<key>` partition — `postings`
    * (id, token, tf), `doc_len` (id, dl), `doc_freq` PARTIALS
    * (token, df over this ingest's docs) and a 1-row `stats_parts`
    * (n_docs, sum_dl) — plus a single marker file in `_commits/`
    * (readers see only marked ingests; a crashed append's unmarked
    * orphan is invisible, overwritten by an immediate retry — same
    * deterministic key — and swept by the next append or consolidation
    * if an interleaved commit bumped the generation first). `meta` (the
    * id column) commits the INDEX's existence on the first ingest,
    * written after that ingest's tables but BEFORE its marker: with a
    * marker and no meta every entry point would throw forever, while
    * meta with no marker just replays as a fresh build.
    *
    * The design works because EVERY derived quantity is additive over
    * disjoint doc sets: df(token) = Σ per-ingest df, N = Σ n_docs,
    * avgdl = Σ sum_dl / N. [[bm25TopKFromIncremental]] therefore merges
    * doc_freq partials AFTER pruning them to the (broadcast) query
    * vocabulary — query-time merge cost is VOCABULARY-sized, never
    * index-sized — and folds the stats partials (one row per ingest) on
    * the driver. Results are bit-identical to a one-shot flat index
    * over the union of the ingests (spec-pinned, and the board query's
    * oracle is the whole-corpus bm25 SQL verbatim): tf/dl are per-doc
    * facts, df/N/avgdl are the additive sums, and the score funnel is
    * the shared [[scoreBm25]].
    *
    * Append cost: O(batch) work and writes — the batch's explode, two
    * aggregates, four partition writes; nothing index-sized REWRITES —
    * plus the idempotency guard — exact mode anti-joins the committed
    * doc-id column (one thin column off doc_len, O(corpus ids) scanned
    * but never shuffled beyond the join); `idGuard = "bloom"` probes
    * the maintained per-ingest id blooms instead — still linear in
    * corpus docs (~1.2 bloom bytes/doc) but a driver file read + a
    * map-only filter with NO join, shuffle or scan job (measured 9.1 s
    * → 2.4 s for a 100-doc append at 2M docs, SURVEY.md §8.10), trading
    * exact K2 semantics for a stated false-positive drop rate (see
    * [[appendBm25Incremental]]).
    * [[compactBm25Incremental]] bounds the partition-count growth (one
    * partition set per append forever — the SketchStore concern) and
    * [[forgetBm25Incremental]] retracts ids; both consolidate through
    * the whole-directory `__old` swap (per-ingest marker surgery cannot
    * be atomic — the forgetFuzzyState argument), healed before every
    * read.
    */
  def buildBm25Incremental(docs: DataFrame, textCol: String, idCol: String,
                           dir: String): Long =
    appendBm25Incremental(docs.sparkSession, dir, docs, textCol, idCol)

  /** Ingest a batch into the incremental index: docs whose id is
    * already committed are dropped (K2 idempotent-append semantics — a
    * re-delivered batch is a no-op), the rest commit as one marked
    * ingest partition set. `idCol` is fixed by the FIRST ingest (stored
    * in `meta`); later calls must pass the same column. Returns the
    * number of docs admitted. Single-writer, like every graft ingest.
    *
    * `idGuard` picks how the K2 dedup reads the committed id set:
    *
    *  - `"exact"` (default): anti-join against the committed doc_len id
    *    column — exact semantics, O(corpus ids) scanned per append.
    *  - `"bloom"`: probe the per-ingest id BLOOMS (every append writes
    *    one next to its tables — `id_bloom/ingest=<key>`, `bloomFpp`
    *    false-positive rate over xxhash64 of the id), reading
    *    O(Σ bloom bytes) per append. Still linear in corpus docs
    *    (~1.2 bytes/doc at fpp 1e-4 — honesty over hype) but several×
    *    smaller than the id column AND free of the anti-join's
    *    shuffle/job machinery: the guard becomes a driver file read
    *    plus a map-only filter (measured 9.1 s → 2.4 s for a 100-doc
    *    append at 2M docs, SURVEY.md §8.10) — the steady-state drain
    *    path. The trade is explicit: a false
    *    positive silently DROPS a genuinely-new doc at ~fpp ×
    *    #uncompacted-ingests probability (no false negatives — replay
    *    idempotency is never weakened); run compaction to fold the
    *    blooms back to one. Requires every committed ingest to carry a
    *    bloom (all appends since the first, or one
    *    [[compactBm25Incremental]] — its consolidation rebuilds the
    *    single survivor bloom); refuses loudly otherwise. That drop
    *    probability has a CEILING: once #uncompacted-ingests × fpp
    *    crosses `bloomBudget` the append fails with the budget math in
    *    the message instead of degrading silently — compact (or raise
    *    the budget) to proceed.
    *
    * `bloomFpp` configures the INDEX at its first ingest and is pinned
    * in `meta`; later appends and every consolidation inherit the
    * pinned rate (an index operated at 1e-6 must not degrade to a
    * caller's default through one compaction).
    *
    * `idRange` (exact mode only): when the caller KNOWS the batch's ids
    * fall inside [lo, hi] — e.g. RetrievePipeline's packed chunk ids —
    * the committed-id read is between()-filtered to that window, which
    * is exact (an id outside the window cannot collide) and prunes the
    * scan to the overlapping parquet row groups: the exact guard stops
    * tracking corpus size without taking the bloom's false-positive
    * trade. Ignored in bloom mode (the blooms are already O(1) probes).
    */
  def appendBm25Incremental(spark: org.apache.spark.sql.SparkSession,
                            dir: String, docs: DataFrame, textCol: String,
                            idCol: String = "doc_id",
                            idGuard: String = "exact",
                            bloomFpp: Double = 1e-4,
                            bloomBudget: Double = 1e-2,
                            idRange: Option[(Long, Long)] = None): Long = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreProtocol.heal(fs, root)
    // layout guard: appending ingest partitions INTO a flat-layout index
    // (buildBm25Index's stats marker present) would corrupt both formats
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/stats")),
      s"appendBm25Incremental: $dir holds a FLAT index (stats marker) — " +
        "build with buildBm25Incremental, or keep serving it via bm25TopKFromIndex")
    val committed = StoreProtocol.committedKeys(fs, root)
    // the index's fpp is PINNED at the first ingest (meta carries it
    // beside the id column): every later append's blooms and the
    // consolidation's survivor bloom are built at the pinned rate, so an
    // index operated at 1e-6 cannot silently degrade to a caller's
    // default 1e-4 through one compaction (r11 advice). Pre-pinning
    // indexes (meta without the column) read as the historical 1e-4.
    val fpp =
      if (committed.isEmpty) bloomFpp
      else {
        val meta = spark.read.parquet(s"$dir/meta")
        require(meta.head().getString(0) == idCol,
          s"appendBm25Incremental: index is keyed on " +
            s"'${meta.head().getString(0)}', got '$idCol'")
        StoreProtocol.pinnedFpp(meta)
      }
    require(idGuard == "exact" || idGuard == "bloom",
      s"appendBm25Incremental: unknown idGuard '$idGuard' (exact | bloom)")
    val incoming0 = docs.select(col(idCol), col(textCol))
    val incoming =
      if (committed.isEmpty) incoming0
      else if (idGuard == "bloom") {
        // the guard's accuracy budget has a CEILING, not just a doc
        // (r11 verdict): each uncompacted ingest's bloom adds ~fpp to a
        // new doc's silent-drop probability, so a stream that never
        // compacts degrades admission accuracy without bound. Fail with
        // the budget math once the cumulative rate crosses
        // `bloomBudget`; compaction folds the blooms back to one.
        val maxIngests = math.max(1, (bloomBudget / fpp).toLong)
        require(committed.length <= maxIngests,
          f"appendBm25Incremental: ${committed.length} uncompacted ingests " +
            f"× fpp $fpp%.2g = ${committed.length * fpp}%.2g cumulative " +
            f"new-doc drop probability exceeds bloomBudget $bloomBudget%.2g " +
            "— run compactBm25Incremental (folds the blooms to one) or " +
            "raise bloomBudget")
        val blooms = committed.map { k =>
          val p = new org.apache.hadoop.fs.Path(s"$dir/id_bloom/ingest=$k")
          require(fs.exists(p),
            s"appendBm25Incremental: idGuard=bloom but ingest $k carries " +
              "no id bloom — compact once (consolidation writes the " +
              "survivor bloom) or keep idGuard=exact")
          readBloom(fs, p.toString)
        }
        val bloomsB = spark.sparkContext.broadcast(blooms)
        // a doc is admitted only when NO committed bloom claims its id:
        // no false negatives (a committed id always hits its own bloom,
        // so replay idempotency holds exactly), false positives drop a
        // new doc at ~fpp per uncompacted ingest (the documented trade)
        val fresh = udf((h: Long) => !bloomsB.value.exists(_.mightContainLong(h)))
        incoming0.filter(fresh(xxhash64(col(idCol).cast("string"))))
      } else {
        // exact anti-join, optionally RANGE-PRUNED to the batch's own id
        // window: a committed id outside [lo, hi] cannot equal a batch
        // id inside it, so the between() is exact and reaches the
        // parquet row-group stats — the read tracks the row groups the
        // batch's window overlaps, not the corpus (the
        // RetrievePipeline.append packed-chunk-id argument)
        val committedIds = spark.read
          .parquet(committed.map(k => s"$dir/doc_len/ingest=$k"): _*)
          .select(col(idCol))
        val pruned = idRange match {
          case Some((lo, hi)) =>
            committedIds.filter(col(idCol).between(lo, hi))
          case None => committedIds
        }
        incoming0.join(pruned, Seq(idCol), "left_anti")
      }
    // one postings pass feeds all four tables — pin it (batch-sized)
    val post = postings(incoming, textCol, idCol).localCheckpoint(true)
    val docLen = post.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
      .localCheckpoint(true)
    // ONE aggregate over the checkpointed doc lengths pays for the
    // admitted count, the stats scalars AND the commit key's content
    // hash (r15: the hash was a second full pass over docLen); the hash
    // column is only read when admitted > 0, so the empty null never
    // surfaces. Deterministic commit key: same batch content + same
    // generation → same key, so a crashed append's retry overwrites its
    // own orphan.
    val statsRow = docLen.agg(count(lit(1)), sum(col("dl")),
      StoreProtocol.contentHash(col(idCol).cast("string"))).head()
    val admitted = statsRow.getLong(0)
    if (admitted == 0L) return 0L
    val key = StoreProtocol.ingestKey("i", StoreProtocol.nextGen(committed),
      statsRow.getString(2))
    // a crashed append's orphans: an interleaved commit bumps the
    // generation, so its retry writes a NEW key and the old unmarked
    // partitions would otherwise linger until the next consolidation
    // (r10 second-review catch)
    StoreProtocol.sweepUnmarked(fs, root,
      Seq("postings", "doc_len", "doc_freq", "stats_parts", "id_bloom"))
    // the five per-ingest artifacts derive from the two checkpointed
    // frames and land in DISJOINT subdirectories — independent legs, so
    // they overlap (guide §2.6: the sequential chain paid five
    // planning + commit-protocol round-trips back to back); meta and
    // the commit marker still come strictly AFTER every leg
    graft.Par.awaitAll(
      graft.Par.run(
        post.write.mode("overwrite").parquet(s"$dir/postings/ingest=$key")),
      graft.Par.run(
        docLen.write.mode("overwrite").parquet(s"$dir/doc_len/ingest=$key")),
      graft.Par.run(
        post.groupBy(col("token")).agg(count(lit(1)).as("df"))
          .write.mode("overwrite").parquet(s"$dir/doc_freq/ingest=$key")),
      graft.Par.run(
        Seq((admitted, statsRow.getLong(1)))
          .toDF("n_docs", "sum_dl")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/stats_parts/ingest=$key")),
      // the ingest's own id bloom, written whether or not THIS append
      // used it: every ingest carrying one is what keeps the index
      // bloom-guardable for all future appends (batch-sized aggregate +
      // a file of ~1.2 bytes/doc at fpp 1e-4)
      graft.Par.run(
        writeBloom(fs, s"$dir/id_bloom/ingest=$key",
          docLen.select(xxhash64(col(idCol).cast("string")).as("__h"))
            .stat.bloomFilter("__h", admitted, fpp))))
    // meta BEFORE the ingest marker (StoreProtocol.commit)
    if (committed.isEmpty)
      Seq((idCol, fpp)).toDF("id_col", "bloom_fpp")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    StoreProtocol.commit(fs, root, key)
    admitted
  }

  private[graft] def writeBloom(fs: org.apache.hadoop.fs.FileSystem, path: String,
                                bloom: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try bloom.writeTo(out) finally out.close()
  }

  private[graft] def readBloom(fs: org.apache.hadoop.fs.FileSystem,
                               path: String): org.apache.spark.util.sketch.BloomFilter = {
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
  }

  /** The incremental index's id-guard trade at this instant, for the
    * growth lane's audit rows (the RetrievePipeline.gateInfo twin):
    * (#committed ingests the guard would probe, pinned fpp). `readFpp`
    * = false skips the meta read (exact-mode audits record 0.0).
    */
  private[graft] def bm25GateInfo(spark: org.apache.spark.sql.SparkSession,
                                  dir: String,
                                  readFpp: Boolean): (Int, Double) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = StoreProtocol.committedKeys(fs, root)
    if (committed.isEmpty) (0, 0.0)
    else (committed.length,
      if (readFpp) StoreProtocol.pinnedFpp(spark.read.parquet(s"$dir/meta"))
      else 0.0)
  }

  /** [[bm25TopK]] answered from the INCREMENTAL index: postings and
    * doc lengths union the marked ingests, doc_freq partials prune to
    * the (broadcast) query vocabulary BEFORE merging — the merge
    * aggregate is vocabulary-sized — and the corpus scalars fold one
    * stats row per ingest on the driver. Bit-identical to the flat
    * index over the same corpus (spec-pinned).
    */
  def bm25TopKFromIncremental(spark: org.apache.spark.sql.SparkSession,
                              dir: String, queryTerms: DataFrame, k: Int,
                              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreProtocol.heal(fs, root)
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    require(fs.exists(metaPath),
      s"bm25TopKFromIncremental: no committed index at $dir (meta marker absent)")
    val idCol = spark.read.parquet(s"$dir/meta").head().getString(0)
    val committed = StoreProtocol.committedKeys(fs, root)
    require(committed.nonEmpty,
      s"bm25TopKFromIncremental: empty index at $dir (all ingests retracted)")
    def table(t: String) =
      spark.read.parquet(committed.map(k0 => s"$dir/$t/ingest=$k0"): _*)
    val vocab = queryTerms.select(col("term").as("token")).distinct()
    val docFreq = table("doc_freq")
      .join(broadcast(vocab), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(sum(col("df")).as("df"))
    val statsRows = table("stats_parts").collect() // bounded: 1 row/ingest
    val nDocs = statsRows.map(_.getLong(0)).sum
    val avgdl = statsRows.map(_.getLong(1)).sum.toDouble / nDocs
    scoreBm25(table("postings"), table("doc_len"), docFreq,
      nDocs, avgdl, idCol, queryTerms, k, k1, b)
  }

  /** Retraction on the incremental index: drop the ids from postings
    * and doc_len, re-derive the doc_freq partial and stats of the
    * SURVIVING rows, and consolidate everything into one retained
    * ingest partition via the whole-directory swap ([[StoreProtocol]];
    * per-ingest marker surgery cannot be atomic). Retracting every doc
    * un-commits the index. Returns docs removed.
    */
  def forgetBm25Incremental(spark: org.apache.spark.sql.SparkSession,
                            dir: String, ids: DataFrame): Long =
    // lease-guarded: a DIRECT forget while an ingest lane's drain holds
    // the index refuses with the holder's name instead of racing the
    // lane's swap; the lanes' own calls pass through (withLease is
    // re-entrant within one control flow — r12 verdict #5)
    Lease.withLease(spark, dir, "Retrieval.forgetBm25Incremental") {
      consolidateBm25(spark, dir, Some(ids))
    }

  /** Fold the per-append ingest partitions into ONE retained partition
    * set (contents unchanged — the partition-count bound a long-lived
    * ingest needs, the SketchStore.compact story). Returns (ingests
    * before, after).
    */
  def compactBm25Incremental(spark: org.apache.spark.sql.SparkSession,
                             dir: String): (Int, Int) =
    // lease-guarded like [[forgetBm25Incremental]] (r12 verdict #5)
    Lease.withLease(spark, dir, "Retrieval.compactBm25Incremental") {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      StoreProtocol.heal(fs, root)
      val before = StoreProtocol.committedKeys(fs, root).length
      if (before <= 1) (before, before)
      else {
        consolidateBm25(spark, dir, None)
        (before, 1)
      }
    }

  private def consolidateBm25(spark: org.apache.spark.sql.SparkSession,
                              dir: String, ids: Option[DataFrame]): Long = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreProtocol.heal(fs, root)
    // loud, not silent: retraction pointed at the WRONG layout must fail
    // (a flat index here has docs to forget — a silent 0 would lose them)
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/stats")),
      s"forgetBm25Incremental/compact: $dir holds a FLAT index (stats " +
        "marker) — use forgetBm25")
    val committed = StoreProtocol.committedKeys(fs, root)
    if (committed.isEmpty) return 0L
    val metaDf = spark.read.parquet(s"$dir/meta")
    val metaRow = metaDf.head()
    val idCol = metaRow.getString(0)
    // the survivor bloom rebuilds at the index's PINNED fpp (meta) — a
    // hardcoded rate here silently degraded a 1e-6 index to 1e-4 after
    // every compaction or forget (r11 advice); pre-pinning indexes
    // (meta without the column) keep the historical 1e-4
    val fpp = StoreProtocol.pinnedFpp(metaDf)
    def table(t: String) =
      spark.read.parquet(committed.map(k => s"$dir/$t/ingest=$k"): _*)
    val keep: DataFrame => DataFrame = ids match {
      case Some(f) =>
        // same index-key-type cast as forgetBm25 (no double coercion)
        val keyType = table("doc_len").schema(idCol).dataType
        val keys = (if (f.columns.length == 1)
            f.select(col(f.columns.head).cast(keyType).as(idCol))
          else f.select(col(idCol).cast(keyType))).distinct()
          .localCheckpoint(true)
        df => df.join(keys, Seq(idCol), "left_anti")
      case None => identity
    }
    val docLen = keep(table("doc_len"))
    val stats = docLen.agg(count(lit(1)), sum(col("dl")),
      StoreProtocol.contentHash(col(idCol).cast("string"))).head()
    val survivors = stats.getLong(0)
    val removedTotal = // docs before minus after (stats partials are exact)
      table("stats_parts").collect().map(_.getLong(0)).sum - survivors
    if (ids.isDefined && removedTotal == 0L) return 0L
    val tmp = new org.apache.hadoop.fs.Path(dir + "__consolidate")
    fs.delete(tmp, true)
    fs.mkdirs(tmp) // all-retracted leaves it empty: the swap un-commits
    if (survivors > 0L) {
      val key = StoreProtocol.ingestKey("r", StoreProtocol.nextGen(committed),
        stats.getString(2))
      keep(table("postings")).write.mode("overwrite")
        .parquet(s"$tmp/postings/ingest=$key")
      docLen.write.mode("overwrite").parquet(s"$tmp/doc_len/ingest=$key")
      // df re-derives from the WRITTEN surviving postings (the build
      // discipline — one ingest-union scan total; subtracting partials
      // would be wrong anyway: a retracted doc's tokens must leave df
      // exactly)
      spark.read.parquet(s"$tmp/postings/ingest=$key").groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$tmp/doc_freq/ingest=$key")
      Seq((survivors, stats.getLong(1))).toDF("n_docs", "sum_dl")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/stats_parts/ingest=$key")
      // the survivor bloom, REBUILT from scratch (blooms are not
      // invertible, so a forget must not carry stale bits — a retracted
      // doc's id lingering in a bloom would block its re-admission, the
      // exact veto forget exists to lift); also what re-arms the bloom
      // guard for indexes whose earlier appends predate it
      writeBloom(fs, s"$tmp/id_bloom/ingest=$key",
        spark.read.parquet(s"$tmp/doc_len/ingest=$key")
          .select(xxhash64(col(idCol).cast("string")).as("__h"))
          .stat.bloomFilter("__h", survivors, fpp))
      spark.read.parquet(s"$dir/meta")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
      StoreProtocol.commit(fs, tmp, key)
    }
    // all retracted → tmp stays empty: the swap un-commits the index
    StoreProtocol.swapInto(fs, tmp, root, "consolidateBm25")
    removedTotal
  }

  /** Hybrid lexical + vector retrieval via Reciprocal Rank Fusion
    * (Cormack, Clarke & Büttcher 2009): rrf(q, d) = Σ_sources
    * 1/(k0 + rank_source(d)). Fusion is RANK-based, so the two scorers'
    * incomparable score scales (BM25 log-idf sums vs cosine) never
    * meet, and a document surfaced by BOTH sources outranks one found
    * by either alone — the standard production recipe for combining a
    * keyword index with an embedding index.
    *
    * Inputs are the two top-k tables ([[bm25TopK]]'s (query_id, rank,
    * doc, score) and an ANN top-k's (query_id, rank, neighbor_id, …)) —
    * already query-bounded, so the fusion is a union + ONE aggregate +
    * a per-query top-k over ≤ 2k rows per query: model-sized end to
    * end regardless of corpus scale. Ties break on doc id; the 2-term
    * double sum is order-independent bit-for-bit.
    */
  def hybridRrf(lexical: DataFrame, vector: DataFrame, k: Int,
                k0: Int = 60, lexDocCol: String = ""): DataFrame = {
    // the lexical doc-id column is the only non-fixed name in the two
    // top-k contracts ([[bm25TopK]] emits it under the caller's idCol);
    // default = the bm25TopK convention (3rd column), but only when the
    // frame actually has its (query_id, rank, <id>, score) shape — a
    // differently-shaped frame must name the column explicitly rather
    // than silently fuse whatever sits third
    val docCol =
      if (lexDocCol.nonEmpty) lexDocCol
      else {
        require(lexical.columns.length == 4 &&
          lexical.columns(0) == "query_id" && lexical.columns(1) == "rank",
          s"hybridRrf: lexical frame (${lexical.columns.mkString(", ")}) is not " +
            "the bm25TopK shape (query_id, rank, <doc id>, score) — pass lexDocCol")
        lexical.columns(2)
      }
    val lx = lexical.select(col("query_id"), col(docCol).as("doc"),
      (lit(1.0) / (lit(k0) + col("rank"))).as("rrf_term"))
    val vx = vector.select(col("query_id"), col("neighbor_id").as("doc"),
      (lit(1.0) / (lit(k0) + col("rank"))).as("rrf_term"))
    val fused = lx.unionByName(vx)
      .groupBy("query_id", "doc")
      .agg(sum(col("rrf_term")).as("rrf"), count(lit(1)).as("n_sources"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
        round(col("rrf"), 6).as("rrf"), col("n_sources"))
  }
}
