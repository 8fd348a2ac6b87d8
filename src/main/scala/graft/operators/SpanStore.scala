package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted span-duplication store — the INCREMENTAL face of
  * [[Dedup.spanStats]], for the continuous-ingestion shape where
  * re-profiling the whole corpus per batch is a non-starter: a live feed
  * asks "which of THIS batch's k-token spans already exist in the corpus
  * (or repeat within the batch)?" against an artifact that grows in
  * O(batch) per drain.
  *
  * Layout at `dir` (the incremental-BM25 ingest-marker protocol —
  * unmarked partition dirs are invisible to every reader, so a crashed
  * append is a clean replay):
  *
  *   meta                      (id_col, k) — frozen at the first ingest
  *   span_docs/ingest=<key>/   (shingle, n_docs) partials: distinct-doc
  *                             counts per span hash. Ingests partition
  *                             the doc space (the K2 gate below), so the
  *                             corpus-wide distinct-doc count is the SUM
  *                             of partials — the doc_freq argument.
  *                             TWO layouts, self-describing per ingest
  *                             (the LSM pair, r12 verdict #2): append
  *                             writes FLAT partials (one cheap file set,
  *                             no small-files tax on a 500-doc batch);
  *                             compact/forget write the consolidated
  *                             base BUCKETED (`bucket = shingle mod` the
  *                             store's pinned count — meta `lsm_buckets`,
  *                             default 256: drain probes touch every
  *                             bucket at any modulus, so fine bucketing
  *                             only taxes them with file opens; see
  *                             append's scaladoc), so a probe
  *                             prunes the big base to the buckets its
  *                             batch touches by construction — no
  *                             row-group stats needed, which uniform
  *                             hashes defeat.
  *   doc_ids/ingest=<key>/     committed doc ids (the K2 gate set)
  *   _commits/<key>            commit marker, written LAST
  *
  * Scale shape: [[append]] gates the batch against committed ids
  * (range-pruned to the batch's own id window — exact for any ordered id
  * type, pushed to parquet row-group stats), then writes ONE
  * vocabulary-sized partial; nothing rewrites. [[probe]] joins committed
  * partials against the batch's span vocabulary (a broadcast semi-join):
  * the store side never SHUFFLES. What it READS is the LSM law: the
  * flat tail (fresh partials since the last compact) is read whole —
  * batch-sized × #uncompacted ingests — and the bucketed base is read
  * at ~|touched buckets| / lsm_buckets of its footprint. A drain-sized batch
  * (tens of thousands of distinct spans) touches every bucket, so ITS
  * base read is a scan — compaction (3× fewer rows at 1M docs: merged
  * partials dedup across ingests) is what keeps that face cheap, and a
  * store-size-independent drain probe would need a shingle-keyed point
  * index, still deliberately out of scope. A SMALL probe (a takedown
  * check, a single document — ≲ a few hundred spans) prunes the base
  * hard: read fraction ≈ touched/lsm_buckets. Numbers: SURVEY.md §8.12.
  * [[probe]] is otherwise the
  * [[Dedup.spanStats]] tail over the batch. [[compact]] bounds the
  * partition count (the SketchStore concern) AND migrates the base to
  * the bucketed layout. [[forget]] is EXACT given
  * the retracted docs' ingested TEXT (their span counts recompute and
  * decrement precisely); by ids alone it is impossible BY NATURE — the
  * store is an aggregate, a bare id cannot reveal which counts it
  * contributed to (the SketchStore non-invertibility note, except here
  * the inverse exists whenever the caller still holds the text, which a
  * takedown feed does).
  *
  * Single-writer, like every graft maintenance operator (lease at the
  * streaming layer).
  */
object SpanStore {

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The per-ingest tables; they share each ingest's commit key. */
  private val Tables = Seq("span_docs", "doc_ids")

  private def metaOf(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/meta")

  private def readMeta(spark: SparkSession, dir: String): (String, Int) = {
    val row = metaOf(spark, dir).select("id_col", "k").head()
    (row.getString(0), row.getInt(1))
  }

  /** The batch's per-shingle distinct-doc partial. */
  private def partialOf(sp: DataFrame, idCol: String): DataFrame =
    sp.select(col("shingle"), col(idCol)).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))

  /** The committed (shingle, n_docs) partials — the shared LSM pair
    * ([[StoreProtocol.readLsm]]): flat append tail read whole, bucketed
    * compacted base pruned to `touched` buckets.
    */
  private def readPartials(spark: SparkSession, dir: String,
                           fs: org.apache.hadoop.fs.FileSystem,
                           committed: Seq[String],
                           touched: Option[Seq[Int]],
                           buckets: Int = StoreProtocol.DefaultLsmBuckets): DataFrame =
    StoreProtocol.readLsm(spark, fs, s"$dir/span_docs", committed,
      Seq("shingle", "n_docs"), touched, buckets)

  /** Ingest a batch: docs whose id is already committed are dropped (K2
    * idempotent-append semantics), the rest commit as one marked ingest
    * partition set. Returns docs admitted. The committed-id gate is
    * range-pruned to the batch's own [min, max] id window — exact for
    * any ordered id type (an id outside the window cannot collide) and
    * pushed to parquet row-group stats, so the gate's read tracks the
    * overlapping row groups, not the corpus (the RetrievePipeline.append
    * argument).
    *
    * `spans` (optional): the batch's OWN [[Dedup.spanShingles]] stream,
    * precomputed by a caller that also probes the same batch (the
    * [[graft.streaming.IncrementalStream.spanIngest]] lane) — the
    * shingle explode is the dominant per-batch cost, and recomputing it
    * for the append would double it. Must cover the same (docs, k); the
    * append semi-joins it down to the admitted docs itself.
    *
    * `lsmBuckets` is recorded in the store's meta at the FIRST ingest
    * and fixes the compacted base's partition modulus from then on (a
    * later [[compact]] can migrate it); on an existing store the
    * recorded layout is authoritative and the argument is ignored —
    * appends write flat partials either way. The default is the COARSE
    * 256, not the graph store's 4096: this store's hot read is the
    * DRAIN-shaped probe (every spanIngest batch, tens of thousands of
    * distinct shingles), which touches every bucket at any plausible
    * modulus — so its cost is the per-file open tax, measured 1.8 s at
    * 256 dirs vs ~10 s at 4096 (SURVEY.md §8.13, r14) — while the fine
    * modulus only helps the RARE point probe (flat ~1.2 s either way).
    * A takedown-heavy deployment doing mostly single-document checks
    * can migrate: `compact(dir, lsmBuckets = 4096)`.
    */
  def append(spark: SparkSession, dir: String, docs: DataFrame,
             textCol: String, idCol: String = "doc_id", k: Int = 8,
             spans: Option[DataFrame] = None,
             lsmBuckets: Int = StoreProtocol.DefaultLsmBuckets): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, root)
    StoreProtocol.heal(fs, root)
    val committed = StoreProtocol.visibleKeys(fs, root)
    if (committed.nonEmpty) {
      val (storedId, storedK) = readMeta(spark, dir)
      require(storedId == idCol && storedK == k,
        s"SpanStore.append: store at $dir is keyed ($storedId, k=$storedK), " +
          s"got ($idCol, k=$k) — span hashes across k values do not mix")
    }
    // a crashed append's orphans (an interleaved commit bumps the
    // generation, so its retry writes a NEW key)
    StoreProtocol.sweepUnmarked(fs, root, Tables)
    val incoming0 = docs.select(col(idCol), col(textCol))
    val incoming =
      if (committed.isEmpty) incoming0
      else {
        val w = incoming0.agg(min(col(idCol)), max(col(idCol))).head()
        if (w.isNullAt(0)) return 0L
        val gate = spark.read
          .parquet(committed.map(c => s"$dir/doc_ids/ingest=$c"): _*)
          .filter(col(idCol).between(lit(w.get(0)), lit(w.get(1))))
        incoming0.join(gate, Seq(idCol), "left_anti")
      }
    val admittedIds = incoming.select(col(idCol)).distinct()
      .localCheckpoint(true)
    // one shingle pass feeds the partial (reusing the caller's stream
    // when provided — see the `spans` scaladoc)
    val sp = spans match {
      case Some(s) => s.join(admittedIds, Seq(idCol), "left_semi")
      case None => Dedup.spanShingles(incoming, textCol, idCol, k)
    }
    val stats = admittedIds
      .agg(count(lit(1)), StoreProtocol.contentHash(col(idCol).cast("string")))
      .head()
    val admitted = stats.getLong(0)
    if (admitted == 0L) return 0L
    val key = StoreProtocol.ingestKey("i", StoreProtocol.nextGen(committed),
      stats.getString(1))
    // disjoint ingest dirs off materialized inputs — overlap the writes
    // (unmarked dirs stay invisible whatever subset a crash leaves)
    graft.Par.awaitAll(
      graft.Par.run(partialOf(sp, idCol).write.mode("overwrite")
        .parquet(s"$dir/span_docs/ingest=$key")),
      graft.Par.run(
        admittedIds.write.mode("overwrite").parquet(s"$dir/doc_ids/ingest=$key")))
    if (committed.isEmpty) {
      import spark.implicits._
      require(lsmBuckets >= 1,
        s"SpanStore.append: lsmBuckets must be >= 1, got $lsmBuckets")
      Seq((idCol, k, lsmBuckets)).toDF("id_col", "k", "lsm_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    }
    StoreProtocol.commit(fs, root, key)
    admitted
  }

  /** [[Dedup.spanStats]] for a BATCH against committed ∪ batch: a span
    * is duplicated when its distinct-doc count across the committed
    * store PLUS this batch reaches `minDocs` — with the union taken at
    * DOC grain, so a batch doc that is already committed (a replayed
    * batch) counts once, and probing a batch before or after its own
    * ingest is value-identical. Output rows cover the batch's docs
    * only, schema identical to spanStats. Committed partials are read
    * pruned to the batch's span vocabulary (broadcast semi-join —
    * batch-sized, 8-byte hashes). The plan captures the committed
    * ingest list at CONSTRUCTION time, so probing before an [[append]]
    * of the same batch stays correct even when the returned frame
    * executes after it.
    */
  def probe(spark: SparkSession, dir: String, batch: DataFrame,
            textCol: String, idCol: String = "doc_id", k: Int = 8,
            minDocs: Int = 2, spans: Option[DataFrame] = None): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, root)
    StoreProtocol.heal(fs, root)
    val committed = StoreProtocol.visibleKeys(fs, root)
    val pinnedBuckets =
      if (committed.isEmpty) StoreProtocol.DefaultLsmBuckets
      else {
        val meta = metaOf(spark, dir)
        val row = meta.select("id_col", "k").head()
        require(row.getString(0) == idCol && row.getInt(1) == k,
          s"SpanStore.probe: store at $dir is keyed (${row.getString(0)}, " +
            s"k=${row.getInt(1)}), got ($idCol, k=$k)")
        StoreProtocol.pinnedLsmBuckets(meta)
      }
    // feeds the vocabulary, the batch partial and the occurrence join —
    // eager localCheckpoint (the ngramJaccard reclaim argument); a
    // caller-provided stream (`spans`, assumed materialized — the
    // append's reuse contract) skips the recompute
    val sp = spans.getOrElse(
      Dedup.spanShingles(batch, textCol, idCol, k).localCheckpoint(true))
    val batchCnt = partialOf(sp, idCol)
    val totalCnt =
      if (committed.isEmpty) batchCnt
      else {
        // the batch's touched buckets — a bounded collect (≤ the store's
        // pinned bucket count, ints) that turns into a PARTITION filter
        // on the compacted base: a small probe reads ~touched/buckets of
        // it by construction
        val touched =
          StoreProtocol.touchedLsmBuckets(sp, "shingle", pinnedBuckets)
        val committedCnt =
          readPartials(spark, dir, fs, committed, Some(touched), pinnedBuckets)
          .join(broadcast(sp.select(col("shingle")).distinct()),
            Seq("shingle"), "left_semi")
          .groupBy(col("shingle")).agg(sum(col("n_docs")).as("n_docs"))
        // committed ∪ batch is a union at DOC grain: a batch doc already
        // committed (a replayed batch, or the replayed docs of a mixed
        // one) must count ONCE, not once per side — otherwise a replay
        // reads as 100% duplicated. Subtract the overlap docs' own span
        // partial from the committed side (recomputed from the batch
        // text — exact under the store's id-immutability contract, the
        // same contract forget's drift guard enforces); committed minus
        // its own contribution can never go negative. For a live feed
        // the overlap is empty and this costs one range-pruned doc_ids
        // probe.
        val w = batch.agg(min(col(idCol)), max(col(idCol))).head()
        val overlap = batch.select(col(idCol), col(textCol)).join(
          spark.read.parquet(committed.map(c => s"$dir/doc_ids/ingest=$c"): _*)
            .filter(col(idCol).between(lit(w.get(0)), lit(w.get(1)))),
          Seq(idCol), "left_semi")
        val overlapCnt = partialOf(
            Dedup.spanShingles(overlap, textCol, idCol, k), idCol)
          .withColumnRenamed("n_docs", "n_over")
        val committedAdj = committedCnt
          .join(overlapCnt, Seq("shingle"), "left")
          .select(col("shingle"),
            (col("n_docs") - coalesce(col("n_over"), lit(0L))).as("n_docs"))
        batchCnt.unionByName(committedAdj)
          .groupBy(col("shingle")).agg(sum(col("n_docs")).as("n_docs"))
      }
    val dup = totalCnt.filter(col("n_docs") >= minDocs).select("shingle")
    Dedup.spanStatsOver(batch, sp.join(dup, Seq("shingle")), textCol, idCol, k)
  }

  /** Fold the flat per-append partials into the bucketed base (contents
    * unchanged — the partition-count bound a long-lived ingest needs).
    * Returns (visible ingests before, after).
    *
    * ADDITIVE, never a base rewrite (r14 verdict #1, sharpened in r15):
    * span partials SUM by protocol — the corpus-wide count is the sum
    * over visible ingests — so the fold aggregates the flat tail and
    * lands it as its OWN bucketed generation; no older generation is
    * read, let alone rewritten, and the fold costs O(tail) for every
    * tail shape (a bucket-merging fold would re-read the touched base
    * fraction, and a drain-shaped tail touches every bucket — the
    * corpus-sized term would survive exactly where it matters).
    * Atomicity is the supersede protocol
    * ([[StoreProtocol.commitIncremental]]): the new generation's commit
    * marker is the single instant it appears and the tail vanishes.
    * Generations are capped ([[StoreProtocol.MaxBaseGens]]) by folding
    * the SMALLEST together ([[StoreProtocol.tierFoldSelection]]) —
    * tiered merging, the occasional rewrite proportional to those
    * generations' own footprint; the original full base is never
    * rewritten by any incremental path.
    *
    * `lsmBuckets` > 0 MIGRATES the base layout to that modulus — a
    * migration IS a full rewrite by nature (every row changes bucket),
    * so it keeps the whole-directory swap, which re-pins the meta
    * atomically with the new layout.
    */
  def compact(spark: SparkSession, dir: String, lsmBuckets: Int = 0,
              maxGens: Int = StoreProtocol.MaxBaseGens): (Int, Int) =
    // lease-guarded: a DIRECT compact while an ingest lane's drain holds
    // the store refuses with the holder's name instead of racing the
    // lane's swap; the lane's own in-batch compact hook passes through
    // (withLease is re-entrant within one control flow)
    Lease.withLease(spark, dir, "SpanStore.compact") {
      require(maxGens >= 1, s"SpanStore.compact: maxGens >= 1, got $maxGens")
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = fsOf(spark, root)
      StoreProtocol.heal(fs, root)
      StoreProtocol.sweepSuperseded(fs, root, Tables)
      val keys = StoreProtocol.visibleKeys(fs, root)
      val before = keys.length
      if (before == 0) (0, 0)
      else {
        val pinned = StoreProtocol.pinnedLsmBuckets(metaOf(spark, dir))
        val migrating = lsmBuckets > 0 && lsmBuckets != pinned
        if (migrating) {
          consolidate(spark, dir, None, Some(lsmBuckets))
          (before, 1)
        } else {
          val plan = StoreProtocol.planFold(fs, s"$dir/span_docs", keys,
            maxGens, "r")
          if (!plan.due) (before, before)
          else (before, consolidateIncremental(spark, dir, fs, root, plan, pinned))
        }
      }
    }

  /** The additive fold behind [[compact]]'s non-migrating path: the
    * retired keys' partials (flat tail + any tier-folded small
    * generations) re-aggregate into ONE new bucketed generation; no
    * surviving generation is read or written. The retired keys' doc_ids
    * rows carry over (the K2 gate reads them forever). A shingle
    * present in several generations keeps one row per generation —
    * probe sums partials by protocol, so values are identical and the
    * duplicate rows retire when a tier merge or migration eventually
    * folds those generations together. Returns the visible ingest count
    * after the flip.
    */
  private def consolidateIncremental(spark: SparkSession, dir: String,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      plan: StoreProtocol.FoldPlan, buckets: Int): Int = {
    import plan.{flat, folded, key, retired}
    val tail =
      if (flat.isEmpty) None
      else Some(spark.read
        .parquet(flat.map(k => s"$dir/span_docs/ingest=$k"): _*)
        .select(col("shingle"), col("n_docs")))
    // the folded small generations read WHOLE (they are the fold's own
    // cost, chosen smallest-first); live generations are never opened
    val foldedRows =
      if (folded.isEmpty) None
      else Some(StoreProtocol.readLsm(spark, fs, s"$dir/span_docs", folded,
        Seq("shingle", "n_docs"), touched = None, buckets))
    val merged = (tail.toSeq ++ foldedRows.toSeq) match {
      case Nil =>
        // a fold of marker-empty generations (zero-span corpus): a typed
        // empty base — the store's partial schema is fixed by protocol
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("shingle", LongType),
            StructField("n_docs", LongType))))
      case pieces => pieces.reduce(_.unionByName(_))
        .groupBy(col("shingle")).agg(sum(col("n_docs")).as("n_docs"))
    }
    val carried = spark.read
      .parquet(retired.map(k => s"$dir/doc_ids/ingest=$k"): _*)
    StoreProtocol.writeLsmBase(merged, "shingle",
      s"$dir/span_docs/ingest=$key", buckets)
    carried.write.mode("overwrite").parquet(s"$dir/doc_ids/ingest=$key")
    StoreProtocol.commitIncremental(fs, root, Tables, key, retired)
    plan.live.length + 1
  }

  /** Retract documents: their span counts decrement EXACTLY (recomputed
    * from `retracted`'s text — which must be the text as ingested; a
    * drifted text fails loudly below rather than corrupting counts),
    * their ids leave the K2 gate set (so forget lifts the re-admission
    * veto — the Warehouse.forget contract), and everything consolidates
    * into one retained ingest via the whole-directory swap. `retracted`
    * carries (idCol, textCol); ids never ingested are ignored. Returns
    * docs removed.
    */
  def forget(spark: SparkSession, dir: String, retracted: DataFrame,
             textCol: String, idCol: String = "doc_id"): Long =
    // lease-guarded like [[compact]] (r12 verdict #5)
    Lease.withLease(spark, dir, "SpanStore.forget") {
      consolidate(spark, dir,
        Some(retracted.select(col(idCol), col(textCol))))
    }

  private def consolidate(spark: SparkSession, dir: String,
                          drop: Option[DataFrame],
                          migrateBuckets: Option[Int] = None): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, root)
    StoreProtocol.heal(fs, root)
    val committed = StoreProtocol.visibleKeys(fs, root)
    if (committed.isEmpty) return 0L
    val (idCol, k) = readMeta(spark, dir)
    val buckets =
      migrateBuckets.getOrElse(StoreProtocol.pinnedLsmBuckets(metaOf(spark, dir)))
    def table(t: String) =
      spark.read.parquet(committed.map(c => s"$dir/$t/ingest=$c"): _*)
    val summed = readPartials(spark, dir, fs, committed, touched = None)
      .groupBy(col("shingle")).agg(sum(col("n_docs")).as("n_docs"))
    // only docs actually committed decrement (a takedown list routinely
    // carries ids this store never ingested)
    val gated = drop.map(_.join(table("doc_ids"), Seq(idCol), "left_semi")
      .localCheckpoint(true))
    val removed = gated.map(_.select(col(idCol)).distinct().count())
      .getOrElse(0L)
    if (drop.isDefined && removed == 0L) return 0L
    val merged = gated match {
      case Some(g) =>
        val dec = partialOf(
          Dedup.spanShingles(g, g.columns.filterNot(_ == idCol).head, idCol, k),
          idCol).withColumnRenamed("n_docs", "n_dec")
        // FULL outer: a decrement against an absent shingle must surface
        // as a negative, not vanish — that is drift shape #2 (a left join
        // would silently keep the real spans' counts while the phantom
        // decrements disappear)
        val after = summed.join(dec, Seq("shingle"), "full_outer")
          .select(col("shingle"),
            (coalesce(col("n_docs"), lit(0L))
              - coalesce(col("n_dec"), lit(0L))).as("n_docs"))
          .localCheckpoint(true)
        // exactness guard: a negative survivor count means the retraction
        // text is NOT the text as ingested (its spans either exceed the
        // committed counts or never existed) — fail loudly, a silent
        // clamp would leave every other count for those spans wrong too.
        // Drift whose span hashes happen to coincide with sufficiently-
        // counted committed spans is undetectable at hash grain — the
        // guard is best-effort by nature, exact in the common case.
        val negs = after.filter(col("n_docs") < 0).count()
        require(negs == 0L,
          s"SpanStore.forget: $negs span counts went negative — the " +
            "retraction frame's text differs from the text as ingested; " +
            "counts cannot decrement exactly")
        after.filter(col("n_docs") > 0)
      case None => summed
    }
    val survivorIds = gated match {
      case Some(g) =>
        table("doc_ids").join(g.select(col(idCol)), Seq(idCol), "left_anti")
      case None => table("doc_ids")
    }
    val stats = survivorIds
      .agg(count(lit(1)), StoreProtocol.contentHash(col(idCol).cast("string")))
      .head()
    val survivors = stats.getLong(0)
    val tmp = new org.apache.hadoop.fs.Path(dir + "__consolidate")
    fs.delete(tmp, true)
    fs.mkdirs(tmp) // all-retracted leaves it empty: the swap un-commits
    if (survivors > 0L) {
      val key = StoreProtocol.ingestKey("r", StoreProtocol.nextGen(committed),
        stats.getString(1))
      // the consolidated base lands BUCKETED (bucket = shingle mod the
      // store's pinned count) so probes prune it by construction; a
      // migration re-pins the meta in the SAME swap as the new layout
      StoreProtocol.writeLsmBase(merged, "shingle",
        s"$tmp/span_docs/ingest=$key", buckets)
      survivorIds.write.mode("overwrite").parquet(s"$tmp/doc_ids/ingest=$key")
      metaOf(spark, dir).select("id_col", "k")
        .withColumn("lsm_buckets", lit(buckets))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
      StoreProtocol.commit(fs, tmp, key)
    }
    StoreProtocol.swapInto(fs, tmp, root, "SpanStore.consolidate")
    removed
  }
}
