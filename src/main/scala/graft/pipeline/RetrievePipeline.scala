package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnnIndex, CorpusOps, Lease, Retrieval, Similarity,
  StoreProtocol, TextAnalysis}

/** End-to-end hybrid retrieval over a document corpus — the composition
  * the individual operators exist for, as one runnable lifecycle (the
  * [[CuratePipeline]] pattern applied to serving instead of curation):
  *
  * BUILD (once, corpus-scale):
  *  1. chunk documents into fixed-token passages ([[CorpusOps.chunkDocs]])
  *  2. persist the BM25 inverted index over the chunks
  *     ([[Retrieval.buildBm25Index]])
  *  3. hash-embed the chunks ([[Similarity.hashEmbed]] — model-free, so
  *     the pipeline runs on corpora that ship no embedding column) and
  *     persist the IVF ANN index over the vectors ([[AnnIndex.buildIvf]])
  *  4. write `meta` LAST — dim/salt/chunk geometry are the QUERY side's
  *     routing contract, and the marker's presence commits the build
  *     (the TokenizerArtifact discipline)
  *
  * QUERY (every request, index-scale only): tokenize the query text for
  * the lexical leg (pruned-postings BM25 from the persisted index — no
  * corpus scan), hash-embed it under the FROZEN dim/salt for the vector
  * leg (partition-pruned probes against the persisted IVF index — no
  * brute-force scan, no training job), and fuse with reciprocal-rank
  * fusion ([[Retrieval.hybridRrf]]). Nothing in the query path trains,
  * scans the corpus, or mutates the indexes (spec-pinned: artifact
  * bytes identical across queries, repeated queries bit-identical).
  *
  * Chunk ids pack (doc_id << 20) | chunk_idx so results carry both the
  * passage and its parent document; query ids are internally sign-folded
  * away from that id space so the ANN self-match guard can never collide
  * a query with a chunk.
  */
object RetrievePipeline {

  final case class Stage(stage: String, rows: Long)

  private val ChunkBits = 20

  /** Build every serving artifact under `dir`. Returns per-stage counts.
    * `bloomFpp` pins the stack's doc-id bloom false-positive rate in
    * `meta` (the [[append]] bloom guard's construction rate — see the
    * pinning argument on
    * [[graft.operators.Retrieval.appendBm25Incremental]]).
    */
  def build(docs: DataFrame, textCol: String, idCol: String, dir: String,
            chunkTokens: Int = 64, stride: Int = 48, dim: Int = 64,
            salt: String = "rp", nlist: Int = 8, iters: Int = 3,
            bloomFpp: Double = 1e-4): Seq[Stage] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(metaPath, true)
    // a previous stack's doc blooms must not survive into this build:
    // stale blooms over-claim ids and would silently drop the new
    // corpus's docs from every future bloom-guarded append
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/doc_blooms"), true)
    val stages = Seq.newBuilder[Stage]
    // the chunk table is PERSISTED, not executor-pinned: it is the
    // passage store serving reads after the build ([[fetchChunks]]),
    // and at corpus scale a localCheckpoint of a corpus-sized frame is
    // the wrong tool (lineage is truncated, so a lost executor fails
    // the job instead of recomputing). Range layout on chunk_id gives
    // every file tight min/max stats — point lookups by id prune to a
    // handful of row groups.
    val chunks0 = CorpusOps.chunkDocs(docs, idCol, textCol, chunkTokens, stride)
      .filter(length(col("chunk_text")) > 0)
      .withColumn("chunk_id",
        (col(idCol).cast("long") * (1L << ChunkBits)) + col("chunk_idx"))
    chunks0.repartitionByRange(col("chunk_id"))
      .sortWithinPartitions(col("chunk_id"))
      .write.mode("overwrite").parquet(s"$dir/chunks")
    val chunks = spark.read.parquet(s"$dir/chunks")
    // id-space preconditions, checked off the WRITTEN table (one corpus
    // pass total; a failure here leaves the build uncommitted — no meta
    // marker — so nothing can serve from it): chunk ids must be
    // non-negative and collision-free, because query() sign-folds query
    // ids into the negative range and the packing multiply must not
    // overflow
    // the id-space guard aggregate overlaps the artifact legs below (all
    // read only the written chunk table): a violation still throws at
    // the await — before meta commits — so a failed build stays unserved
    // exactly as before, it just discovers the failure after some doomed
    // leg work instead of before any
    val statsF = graft.Par.run {
      val stats = chunks.agg(count(lit(1)), max(col("chunk_idx")),
        min(col(idCol)), max(col(idCol))).head()
      require(stats.getLong(0) > 0,
        "RetrievePipeline.build: the corpus produced no non-empty chunks")
      require(stats.getLong(1) < (1L << ChunkBits),
        s"chunk_idx ${stats.getLong(1)} overflows the ${ChunkBits}-bit chunk " +
          "id space — raise chunkTokens/stride or widen ChunkBits")
      require(stats.getLong(2) >= 0 && stats.getLong(3) < (1L << (63 - ChunkBits)),
        s"doc ids [${stats.getLong(2)}, ${stats.getLong(3)}] fall outside " +
          s"[0, 2^${63 - ChunkBits}) — chunk-id packing requires non-negative, " +
          "bounded doc ids")
      stats
    }
    // the three artifact legs below read only the WRITTEN chunk table
    // and write into disjoint subdirectories (bm25/, vectors/ + ann/,
    // doc_blooms/) — independent by construction, so they overlap
    // (guide §2.6: sequentially they serialized ~20 model-sized jobs'
    // planning/commit gaps); meta still commits strictly LAST, so a
    // crash anywhere leaves the build unserved exactly as before
    val bm25Leg = graft.Par.run {
      // the INCREMENTAL layout (one persistence format for the whole
      // BM25 family): the build is its first ingest, [[append]] adds
      // later docs in O(batch), and forget routes through
      // forgetBm25Incremental — query results are bit-identical to the
      // flat index (spec-pinned)
      Retrieval.buildBm25Incremental(chunks, "chunk_text", "chunk_id", s"$dir/bm25")
      Stage("bm25_postings",
        spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$dir/bm25/postings").count())
    }
    val annLeg = graft.Par.run {
      // the hashed embeddings persist too (the build's vector store —
      // reusable for bulk labeling / other indexes): buildIvf's Lloyd
      // rounds + the routing write would otherwise re-execute the whole
      // hashEmbed chain (token explode + two aggregates) once per pass —
      // measured 13.0 s → 3.4 s at sf0.1 when the chain ran pinned, and
      // the parquet-backed form additionally survives executor loss
      Similarity.hashEmbed(chunks, "chunk_text", "chunk_id", dim, salt)
        .write.mode("overwrite").parquet(s"$dir/vectors")
      AnnIndex.buildIvf(spark.read.parquet(s"$dir/vectors"), "embedding",
        "chunk_id", s"$dir/ann", nlist, iters)
      Stage("ann_vectors",
        spark.read.parquet(s"$dir/ann/corpus").count())
    }
    // the build's doc bloom ("base" part): one thin-column pass over the
    // written chunk table, eager so the FIRST bloom-guarded append is
    // already O(batch) instead of paying the heal scan
    val bloomLeg = graft.Par.run(
      writePartBloom(fs, dir, "base", chunks,
        graft.Par.await(statsF).getLong(0), bloomFpp))
    graft.Par.awaitAll(statsF, bm25Leg, annLeg, bloomLeg)
    stages += Stage("chunks", graft.Par.await(statsF).getLong(0))
    stages += graft.Par.await(bm25Leg)
    stages += graft.Par.await(annLeg)
    // bloom_fpp rides at the END of meta: the four routing fields stay
    // at their historical positions, and pre-pinning stacks (no column)
    // read back as the historical 1e-4 default
    Seq((dim, salt, chunkTokens, stride, bloomFpp))
      .toDF("dim", "salt", "chunk_tokens", "stride", "bloom_fpp")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    stages.result()
  }

  /** Hybrid top-k from the persisted artifacts. `queries` is
    * (query_id: non-negative integral, text). Returns (query_id, rank,
    * chunk_id, doc_id, rrf, n_sources), ≤ k rows per query.
    *
    * `bulk` picks the vector leg's execution regime: `None` (default)
    * decides from the EXACT embedded-probe size — query count (from the
    * same single aggregate the id guard already runs) × the known
    * per-row bytes (dim floats + id) against the session's broadcast
    * threshold. Plan statistics were tried twice and both directions
    * failed: the embedded frame's stats are multiplied out by
    * hashEmbed's aggregates (a 3-query serve probe read as huge →
    * +2.5 s of bulk machinery), and the raw text frame's stats
    * underestimate by up to dim·4/text-length (a 100k × dim-4096 batch
    * would have broadcast ~1.6 GB). Service-sized batches take
    * [[AnnIndex.queryIvf]]'s broadcast probe join, corpus-sized query
    * sides take [[AnnIndex.queryIvfBulk]]'s shuffle join with hot-cell
    * sub-splits. `Some(b)` forces a regime (spec hook — the two are
    * bit-identical at the same parameters, pinned by AnnIndexSpec and
    * RetrievePipelineSpec).
    */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
            k: Int = 10, nprobe: Int = 2, k0: Int = 60,
            bulk: Option[Boolean] = None): DataFrame = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaPath),
      s"RetrievePipeline: no committed build at $dir (meta marker absent)")
    val meta = spark.read.parquet(s"$dir/meta").head()
    val (dim, salt) = (meta.getInt(0), meta.getString(1))
    val q = queries.select(col("query_id").cast("long").as("query_id"),
      col("text"))
    // one aggregate pays for all three preconditions AND the regime
    // decision: the sign-fold below maps [0, 2^63) onto the negative
    // range, so a NEGATIVE id would collide with the chunk-id space and
    // a NULL id would rank the lexical leg under a key the vector leg
    // silently drops — both fail fast. An EMPTY frame is valid
    // serve-path input (routine in a micro-batch loop) and flows
    // through to zero rows.
    val qStats = q.agg(min(col("query_id")), count(col("query_id")),
      count(lit(1))).head()
    val nQueries = qStats.getLong(2)
    require(nQueries == qStats.getLong(1),
      "RetrievePipeline.query: null query ids present — the lexical and " +
        "vector legs would disagree on null keys; filter or fix upstream")
    require(nQueries == 0 || qStats.getLong(0) >= 0,
      "RetrievePipeline.query: query ids must be non-negative " +
        "(the sign-fold reserves the negative range for queries)")
    // the two legs read disjoint artifacts (bm25/ vs ann/) and each runs
    // its own bounded construction-time collects (stats partials, probed
    // cells) — independent, so their construction overlaps (guide §2.6)
    val lexLeg = graft.Par.run {
      val terms = q.select(col("query_id"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
      if (bm25IsFlat(spark, dir))
        Retrieval.bm25TopKFromIndex(spark, s"$dir/bm25", terms, k)
      else Retrieval.bm25TopKFromIncremental(spark, s"$dir/bm25", terms, k)
    }
    val vecLeg = graft.Par.run {
      // sign-fold query ids out of the chunk id space (chunk ids are
      // >= 0, the fold is < 0) so queryIvf's self-match filter cannot
      // collide; the query frame carries the INDEX's id column name
      // (queryIvf's one-idCol contract for both sides)
      val qVec = Similarity.hashEmbed(q, "text", "query_id", dim, salt)
        .select((-col("query_id") - 1).as("chunk_id"), col("embedding"))
      // EXACT embedded-probe size from the guard's row count (see the
      // scaladoc for why both plan-statistic variants were wrong): each
      // probe row is dim floats + a long id + row overhead
      val probeBytes = nQueries * (4L * dim + 64L)
      val useBulk = bulk.getOrElse(
        !AnnIndex.broadcastThresholdFits(spark, probeBytes))
      val ann =
        if (useBulk)
          AnnIndex.queryIvfBulk(spark, s"$dir/ann", qVec, "embedding",
            "chunk_id", k, nprobe)
        else
          AnnIndex.queryIvf(spark, s"$dir/ann", qVec, "embedding",
            "chunk_id", k, nprobe)
      ann.select((-col("query_id") - 1).as("query_id"), col("rank"),
        col("neighbor_id"), col("cosine"))
    }
    Retrieval.hybridRrf(graft.Par.await(lexLeg), graft.Par.await(vecLeg), k, k0)
      .select(col("query_id"), col("rank"), col("doc_id").as("chunk_id"),
        shiftright(col("doc_id"), ChunkBits).as("doc_id"),
        col("rrf"), col("n_sources"))
  }

  /** Read a chunk/vector table: the build writes flat files, [[append]]
    * commits batch SUBDIRECTORIES (the staged-rename protocol) — both
    * are plain leaf-file layouts, no partition inference wanted (the
    * MediaHashStore.read convention).
    */
  private def readTable(spark: SparkSession, p: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(p)

  /** Stacks built before the incremental-BM25 switch carry the FLAT
    * index layout (stats marker); detect it so [[query]] and [[forget]]
    * keep serving and keep honoring takedowns on pre-switch stacks with
    * no migration (the retractionIngest lane's detection, locally).
    * [[append]]/[[compact]] DO require the incremental layout — growing
    * a flat-legged stack means rebuilding it once (their entry
    * requires say so loudly).
    */
  private def bm25IsFlat(spark: SparkSession, dir: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a flat index parked at __old by a crashed swap still counts (the
    // flat entry points heal it themselves before reading)
    fs.exists(new org.apache.hadoop.fs.Path(s"$dir/bm25/stats")) ||
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/bm25__old/stats"))
  }

  // ------------------------------------------------- doc-id bloom guard

  /** The chunk store's committed PARTS — the grain the doc-id blooms
    * are keyed on: the build/compact/forget flat files under the name
    * "base", plus each staged append batch directory by its own name.
    */
  private def chunkParts(fs: org.apache.hadoop.fs.FileSystem,
                         dir: String): Seq[(String, Seq[String])] = {
    val statuses = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/chunks"))
    val base = statuses.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith(".") && !n.startsWith("_")
    }.map(_.getPath.toString).toSeq
    val batches = statuses
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("b_"))
      .map(s => s.getPath.getName -> Seq(s.getPath.toString)).toSeq
    (if (base.nonEmpty) Seq("base" -> base) else Nil) ++ batches
  }

  /** The id-guard trade at this instant, for the growth lanes' audit
    * rows (r12 verdict: a bloom fp silently drops a genuinely-new doc,
    * and without a durable record of #parts × fpp at drain time an
    * operator cannot bound realized fp exposure after the fact):
    * (#committed parts the guard would probe, pinned fpp). `readFpp` =
    * false (the exact-mode audit) skips the meta read — exposure is 0
    * there and the parquet head() job would be pure waste per drain.
    */
  private[graft] def gateInfo(spark: SparkSession, dir: String,
                              readFpp: Boolean): (Int, Double) = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta"))) (0, 0.0)
    else (chunkParts(fs, dir).length,
      if (readFpp) StoreProtocol.pinnedFpp(spark.read.parquet(s"$dir/meta").head())
      else 0.0)
  }

  /** One doc-id bloom over `chunksDf`'s distinct parent docs, written
    * under `doc_blooms/<part>`. `expected` may be the CHUNK count (an
    * upper bound on distinct docs — over-sizing only lowers the
    * realized fpp, and it saves the distinct-count job).
    */
  private def writePartBloom(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                             part: String, chunksDf: DataFrame,
                             expected: Long, fpp: Double): Unit =
    graft.operators.Retrieval.writeBloom(fs, s"$dir/doc_blooms/$part",
      chunksDf.select(shiftright(col("chunk_id"), ChunkBits).as("__d"))
        .distinct()
        .select(xxhash64(col("__d").cast("string")).as("__h"))
        .stat.bloomFilter("__h", math.max(expected, 1L), fpp))

  /** Load the per-part doc-id blooms, HEALING a missing one from its
    * part's own files (an O(part) read: a crash between an append's
    * chunk commit and its bloom write, a pre-bloom stack's first
    * bloom-mode append, or a compact/forget crashed before its rebuild
    * — all self-repair here) and sweeping bloom files whose part no
    * longer exists (stale blooms only add false-positive drop risk).
    * The invariant every touch point maintains: a bloom file present
    * for a part covers EXACTLY that part's doc ids — which is why
    * [[compact]] and [[forget]] delete the bloom directory BEFORE
    * swapping the chunk table (their rewrites re-key or shrink the id
    * sets) and rebuild the base bloom after.
    */
  private def loadDocBlooms(spark: SparkSession,
                            fs: org.apache.hadoop.fs.FileSystem, dir: String,
                            fpp: Double): Seq[org.apache.spark.util.sketch.BloomFilter] = {
    val parts = chunkParts(fs, dir)
    val bloomDir = new org.apache.hadoop.fs.Path(s"$dir/doc_blooms")
    val names = parts.map(_._1).toSet
    if (fs.exists(bloomDir))
      fs.listStatus(bloomDir).map(_.getPath)
        .filterNot(p => names.contains(p.getName))
        .foreach(p => fs.delete(p, true))
    parts.map { case (name, paths) =>
      val f = s"$dir/doc_blooms/$name"
      if (fs.exists(new org.apache.hadoop.fs.Path(f)))
        graft.operators.Retrieval.readBloom(fs, f)
      else {
        val src = spark.read.parquet(paths: _*)
        // chunk row count from parquet footers — the cheap upper bound
        writePartBloom(fs, dir, name, src, src.count(), fpp)
        graft.operators.Retrieval.readBloom(fs, f)
      }
    }
  }

  /** GROWTH across the whole serving stack — the twin of [[forget]]:
    * ingest new documents into every persisted artifact without a
    * rebuild. The chunk geometry and hash-embed contract come FROZEN
    * from the build's `meta` (they are the query side's routing
    * contract), the BM25 leg appends one O(batch) ingest partition set
    * ([[graft.operators.Retrieval.appendBm25Incremental]]), the vectors
    * append as plain job-committed files, and the ANN leg routes under
    * the frozen centroids into only the touched cell partitions
    * ([[graft.operators.AnnIndex.appendIvf]]) — nothing index-sized
    * rewrites. Retrain (a fresh build) when drift makes the frozen
    * centroids a bad coarse quantizer; that policy call is the
    * caller's, measurable with warehouse_drift.
    *
    * Idempotent-by-parts, CHUNKS LAST: docs whose ids already appear in
    * the chunk store are dropped up front (K2), and because the chunk
    * store is the presence detector AND is appended last (one staged
    * directory rename — all of a batch's chunks or none), a crash
    * anywhere in the window replays cleanly: the batch re-enters as
    * "new", the BM25 append's own K2 anti-join no-ops, and the vector /
    * ANN appends each anti-join away the rows that already landed
    * (spec simulates the exact crash states). The mirror of forget's
    * chunks-pruned-last argument. Single-writer, like every graft
    * maintenance operator. Returns per-stage appended counts.
    *
    * NO read here scans the committed id space whole (the r11 verdict's
    * last corpus-tracking append cost):
    *
    *  - `idGuard = "exact"` (default): the doc gate anti-joins the
    *    chunk store RANGE-PRUNED to the batch's own id window — a
    *    committed doc can collide with this batch only if its id
    *    (hence every one of its packed chunk ids) lies inside
    *    [min, max] of the batch's ids, so the between() filter is
    *    EXACT and reaches the parquet row-group stats. Monotone doc
    *    ids (the live-feed norm) prune the committed store to nothing;
    *    a worst-case batch spanning the whole id range degrades to the
    *    old full-column scan, never past it.
    *  - `idGuard = "bloom"`: the gate probes per-part doc-id BLOOMS
    *    (`doc_blooms/` — one per chunk-store part, written by build,
    *    every append, and the compact/forget rebuilds; healed from the
    *    part's own files when missing) — a driver file read plus a
    *    map-only filter, no store read at all, id-distribution-
    *    independent. The appendBm25Incremental trade at stack grain: a
    *    false positive silently drops a genuinely-new doc from the
    *    WHOLE stack (all four artifacts consistently — the gate is
    *    upstream of every leg) at ~fpp × #parts probability, no false
    *    negatives, budget-bounded by `bloomBudget` (fail-fast with the
    *    math once #parts × fpp crosses it; [[compact]] folds the
    *    blooms back to one). The fpp is pinned in the build's meta.
    *
    * The BM25, vector and ANN per-leg guards stay EXACT in both modes —
    * downstream of the doc gate their job is crash-replay CONVERGENCE
    * (completing exactly the rows a crashed window left missing), and a
    * bloom false positive in any ONE of them would permanently hole
    * that artifact while its siblings carry the row, breaking the
    * gate's all-or-nothing contract (a 200k-doc append run caught exactly
    * this when the BM25 leg briefly inherited the stack's bloom mode;
    * SURVEY.md §8.11) — but
    * all three are range-pruned to the batch's packed chunk-id window,
    * so their cost tracks the row groups the batch's id range overlaps,
    * not the corpus.
    */
  def append(docs: DataFrame, textCol: String, idCol: String,
             dir: String, idGuard: String = "exact",
             bloomBudget: Double = 1e-2): Seq[Stage] = {
    val spark = docs.sparkSession
    val store = StoreProtocol.open(spark, dir, "chunks", "vectors", "ann/corpus")
    val fs = store.fs
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta")),
      s"RetrievePipeline.append: no committed build at $dir (meta marker absent)")
    require(!bm25IsFlat(spark, dir),
      s"RetrievePipeline.append: the stack at $dir carries the pre-switch " +
        "FLAT BM25 leg — rebuild once to the incremental layout before growing")
    require(idGuard == "exact" || idGuard == "bloom",
      s"RetrievePipeline.append: unknown idGuard '$idGuard' (exact | bloom)")
    val meta = store.meta
    val (dim, salt, chunkTokens, stride) =
      (meta.getInt(0), meta.getString(1), meta.getInt(2), meta.getInt(3))
    val fpp = StoreProtocol.pinnedFpp(meta)
    // the batch's doc-id RANGE first: it is (a) the id-space
    // precondition, moved ahead of every store read so a bad batch
    // fails before costing anything, and (b) the prune key each
    // committed-side read below pushes into its parquet scan
    val idStats = docs.agg(count(lit(1)), min(col(idCol).cast("long")),
      max(col(idCol).cast("long"))).head()
    if (idStats.getLong(0) == 0L)
      return Seq(Stage("chunks", 0L), Stage("bm25_chunks", 0L),
        Stage("ann_vectors", 0L))
    // a NON-EMPTY batch whose ids all cast to null is a misconfigured
    // idCol — fail loudly, not the silent never-grows no-op an early
    // return here would be (the pre-range-prune code crashed on this)
    require(!idStats.isNullAt(1),
      s"RetrievePipeline.append: no value of id column '$idCol' casts to " +
        "long — the packed-chunk-id scheme requires integral doc ids")
    val (loDoc, hiDoc) = (idStats.getLong(1), idStats.getLong(2))
    require(loDoc >= 0 && hiDoc < (1L << (63 - ChunkBits)),
      s"doc ids [$loDoc, $hiDoc] fall outside " +
        s"[0, 2^${63 - ChunkBits}) — chunk-id packing requires non-negative, " +
        "bounded doc ids")
    val loChunk = loDoc << ChunkBits
    val hiChunk = ((hiDoc + 1L) << ChunkBits) - 1L
    // K2 doc-level gate against the chunk store (see the guard-mode
    // scaladoc): exact = range-pruned thin-column anti-join; bloom =
    // per-part doc blooms, healed on absence, budget-bounded
    val incoming0 = docs.select(col(idCol), col(textCol))
    val incoming =
      if (idGuard == "bloom") {
        val blooms = loadDocBlooms(spark, fs, dir, fpp)
        val maxParts = math.max(1L, (bloomBudget / fpp).toLong)
        require(blooms.length <= maxParts,
          f"RetrievePipeline.append: ${blooms.length} chunk-store parts " +
            f"× fpp $fpp%.2g = ${blooms.length * fpp}%.2g cumulative " +
            f"new-doc drop probability exceeds bloomBudget $bloomBudget%.2g " +
            "— run compact (folds the blooms to one) or raise bloomBudget")
        val bloomsB = spark.sparkContext.broadcast(blooms)
        // no false negatives: a committed doc always hits its own
        // part's bloom, so replay idempotency holds exactly (the
        // appendBm25Incremental argument)
        val fresh = udf((h: Long) => !bloomsB.value.exists(_.mightContainLong(h)))
        incoming0.filter(fresh(xxhash64(col(idCol).cast("string"))))
      } else {
        val existingDocs = readTable(spark, s"$dir/chunks")
          .filter(col("chunk_id").between(loChunk, hiChunk))
          .select(shiftright(col("chunk_id"), ChunkBits).as(idCol)).distinct()
        incoming0.join(existingDocs, Seq(idCol), "left_anti")
      }
    // pinned: an append batch is batch-sized by nature (corpus-scale
    // initial loads go through build) and feeds four consumers below
    val chunks = CorpusOps.chunkDocs(incoming, idCol, textCol,
        chunkTokens, stride)
      .filter(length(col("chunk_text")) > 0)
      .withColumn("chunk_id",
        (col(idCol).cast("long") * (1L << ChunkBits)) + col("chunk_idx"))
      .localCheckpoint(true)
    // ONE aggregate pays for the emptiness/overflow checks AND the commit
    // key's content hash (r15: the key agg below re-scanned the
    // checkpointed chunks for a second pass); the hash column is only
    // read when nChunks > 0, so the empty-batch null never surfaces
    val stats = chunks.agg(count(lit(1)), max(col("chunk_idx")),
      StoreProtocol.contentHash(col("chunk_id"))).head()
    val nChunks = stats.getLong(0)
    if (nChunks == 0L)
      return Seq(Stage("chunks", 0L), Stage("bm25_chunks", 0L),
        Stage("ann_vectors", 0L))
    // the build's remaining id-space precondition, re-checked per batch
    require(stats.getLong(1) < (1L << ChunkBits),
      s"chunk_idx ${stats.getLong(1)} overflows the ${ChunkBits}-bit chunk " +
        "id space — raise chunkTokens/stride or widen ChunkBits")
    // 1. BM25 leg — its own K2 guard makes a replay a no-op. The guard
    // stays EXACT in both stack modes (range-pruned to the batch's
    // chunk-id window like the vector/ANN legs): inside `append` its
    // job is crash-replay CONVERGENCE, and a bloom false positive here
    // would hole ONE artifact while the siblings carry the chunk —
    // breaking the "all four artifacts consistently" contract the
    // upstream doc gate provides (observed live, SURVEY.md §8.11: one
    // bm25-only chunk drop at 200k docs). The bloom trade belongs at
    // the doc gate above and in standalone bm25Ingest feeds, where a
    // drop is at least stack-consistent.
    // legs 1–3 touch disjoint artifacts (bm25/, vectors/, ann/), each
    // crash-replayable on its own (the scaladoc's convergence argument),
    // and the sequential order was never load-bearing — only "chunks
    // LAST" is (step 4 stays after the barrier). Overlapping them hides
    // each leg's planning/commit driver gap behind the others' jobs
    // (guide §2.6).
    val bm25Leg = graft.Par.run(
      Retrieval.appendBm25Incremental(spark, s"$dir/bm25",
        chunks, "chunk_text", "chunk_id", idGuard = "exact",
        bloomBudget = bloomBudget, idRange = Some((loChunk, hiChunk))))
    // 2+3. vector store and ANN index, each guarded by its OWN id-level
    // anti-join (after a crash they can disagree on what landed; each
    // append completes exactly its missing rows) — range-pruned to the
    // batch's chunk-id window, which is exact (ids outside the window
    // cannot match) and keeps the read proportional to the overlapping
    // row groups, not the corpus
    val embedded = Similarity.hashEmbed(chunks, "chunk_text", "chunk_id",
      dim, salt).localCheckpoint(true)
    val vecLeg = graft.Par.run {
      val newVecs = embedded.join(
        readTable(spark, s"$dir/vectors")
          .filter(col("chunk_id").between(loChunk, hiChunk))
          .select("chunk_id"),
        Seq("chunk_id"), "left_anti")
      if (!newVecs.isEmpty)
        newVecs.write.mode("append").parquet(s"$dir/vectors")
    }
    val annLeg = graft.Par.run {
      val newAnn = embedded.join(
        spark.read.parquet(s"$dir/ann/corpus")
          .filter(col("chunk_id").between(loChunk, hiChunk))
          .select("chunk_id"),
        Seq("chunk_id"), "left_anti").localCheckpoint(true)
      val n = newAnn.count()
      if (n > 0L)
        AnnIndex.appendIvf(newAnn, "embedding", "chunk_id", s"$dir/ann")
      n
    }
    graft.Par.awaitAll(bm25Leg, vecLeg, annLeg)
    val bm25Chunks = graft.Par.await(bm25Leg)
    val nAnn = graft.Par.await(annLeg)
    // 4. chunks LAST — the presence detector commits by ONE directory
    // rename (all of the batch's chunks or none, the MediaHashStore
    // staged-append protocol), so no crash can leave a doc "present"
    // with some of its chunks missing from the passage store
    val stage = new org.apache.hadoop.fs.Path(s"$dir/chunks__stage")
    fs.delete(stage, true) // a crashed append's debris (single writer)
    chunks.write.mode("overwrite").parquet(stage.toString)
    // generation + content hash (the appendBm25Incremental key shape):
    // the generation makes the name collision-free across COMMITTED
    // batches — a truncated-XOR-only key could collide two different
    // batches and the delete below would destroy the earlier one's
    // committed chunks (code-review catch); within one generation the
    // key is deterministic, so a crashed rename's retry overwrites
    // its own orphan
    val gen = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/chunks"))
      .count(s => s.isDirectory && s.getPath.getName.startsWith("b_"))
    val key = stats.getString(2).take(12) // from the single batch aggregate
    val batchDir = new org.apache.hadoop.fs.Path(s"$dir/chunks/b_${gen}_$key")
    fs.delete(batchDir, true) // deterministic key: replay overwrites its own
    if (!fs.rename(stage, batchDir))
      throw new IllegalStateException(
        s"RetrievePipeline.append: cannot commit $stage into $batchDir")
    // the batch's doc bloom, AFTER the chunk commit (a bloom claiming
    // uncommitted docs would make the replayed batch drop itself — data
    // loss; a committed part briefly missing its bloom just heals from
    // the part's own files) and written whether or not THIS append
    // probed blooms — every part carrying one is what keeps the stack
    // bloom-guardable
    writePartBloom(fs, dir, batchDir.getName, chunks, nChunks, fpp)
    Seq(Stage("chunks", nChunks), Stage("bm25_chunks", bm25Chunks),
      Stage("ann_vectors", nAnn))
  }

  /** Maintenance for a stack grown by [[append]]: fold the per-batch
    * chunk subdirectories and appended vector files back into the
    * build's flat range layout on chunk_id (every file regains tight
    * min/max stats, so [[fetchChunks]]' point lookups keep pruning),
    * consolidate the BM25 ingest partitions, and compact the ANN cell
    * files — the file-count bound a long-lived
    * [[graft.streaming.IncrementalStream.servingIngest]] needs. Tables
    * swap through the shared `__old` protocol (readers heal a mid-swap
    * crash). SINGLE-WRITER: run between drains.
    */
  def compact(spark: SparkSession, dir: String): Unit =
    // lease-guarded: a DIRECT compact while an ingest lane's drain holds
    // the stack refuses with the holder's name instead of racing the
    // lane's swaps; the lane's own compactEvery hook passes through
    // (withLease is re-entrant within one control flow — r12 verdict #5)
    Lease.withLease(spark, dir, "RetrievePipeline.compact") {
      compactImpl(spark, dir)
    }

  private def compactImpl(spark: SparkSession, dir: String): Unit = {
    val store = StoreProtocol.open(spark, dir, "chunks", "vectors")
    val fs = store.fs
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta")),
      s"RetrievePipeline.compact: no committed build at $dir (meta marker absent)")
    Seq("chunks", "vectors").foreach { table =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/$table")
      StoreProtocol.rewrite(fs, path, "__compact", "RetrievePipeline.compact") { tmp =>
        readTable(spark, path.toString)
          .repartitionByRange(col("chunk_id"))
          .sortWithinPartitions(col("chunk_id"))
          .write.mode("overwrite").parquet(tmp.toString)
        // the per-batch doc blooms go BEFORE the chunk swap and the folded
        // base bloom is rebuilt after: the fold moves every batch's docs
        // under "base", and a stale pre-fold base bloom would read as
        // authoritative for the folded part while missing the batch ids —
        // re-admitting committed docs. A crash anywhere between leaves NO
        // bloom for a committed part, which the next bloom-guarded append
        // heals from the part's files (loadDocBlooms invariant).
        if (table == "chunks")
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/doc_blooms"), true)
      }
      if (table == "chunks") {
        val folded = readTable(spark, path.toString)
        writePartBloom(fs, dir, "base", folded, folded.count(),
          StoreProtocol.pinnedFpp(store.meta))
      }
    }
    if (!bm25IsFlat(spark, dir))
      Retrieval.compactBm25Incremental(spark, s"$dir/bm25")
    AnnIndex.compactIvf(spark, s"$dir/ann")
    ()
  }

  /** Retraction across the WHOLE serving stack — the takedown/opt-out
    * seam: given doc ids, remove every trace of their chunks from all
    * four persisted artifacts, so a retracted document (a) stops being
    * returned by [[query]] through either leg, (b) stops serving its
    * passage text from [[fetchChunks]], and (c) stops influencing other
    * documents' lexical scores (BM25 df/avgdl re-derive from the
    * surviving postings — [[graft.operators.Retrieval.forgetBm25]]).
    *
    * The chunk ids derive from the id packing (doc_id << ChunkBits |
    * chunk_idx) by one broadcast semi-join against the chunk store,
    * pinned once (retraction-sized) and reused against every artifact:
    * vectors rewrite through a `__old` temp-then-swap
    * ([[fetchChunks]]/[[query]] heal a mid-swap crash), the BM25 index
    * swaps as one directory, the ANN corpus rewrites only the
    * retracted ids' cell partitions
    * ([[graft.operators.AnnIndex.forgetIvf]]) — and the CHUNK TABLE is
    * pruned LAST, deliberately: the drop set derives from it, so it
    * must outlive every other artifact's forget for the operation to be
    * replay-idempotent. Pruned first (the r10 code-review catch), a
    * crash after the chunk swap would strand the retracted doc in the
    * BM25/ANN indexes FOREVER — the replayed batch recomputes an empty
    * drop set from the already-cleansed chunks and exits, and since
    * query() never consults the chunk table, the doc keeps ranking
    * through both legs. Pruned last, a crash anywhere replays cleanly:
    * the drop set recomputes identically from the intact chunks and
    * every downstream forget is an anti-join no-op on rows already
    * gone. Retracting the ENTIRE corpus is not a forget — rebuild
    * instead (guarded). Returns the number of chunks removed.
    * Single-writer, like every graft maintenance operator.
    */
  def forget(spark: SparkSession, dir: String, docIds: DataFrame): Long =
    // lease-guarded like [[compact]] (r12 verdict #5)
    Lease.withLease(spark, dir, "RetrievePipeline.forget") {
      forgetImpl(spark, dir, docIds)
    }

  private def forgetImpl(spark: SparkSession, dir: String,
                         docIds: DataFrame): Long = {
    val store = StoreProtocol.open(spark, dir, "chunks", "vectors")
    val fs = store.fs
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta")),
      s"RetrievePipeline.forget: no committed build at $dir (meta marker absent)")
    val chunks = readTable(spark, s"$dir/chunks")
    // renamed join key: the chunk store carries the caller's own doc-id
    // column, and a bare `doc_id` reference would be ambiguous
    val ids = docIds.select(col("doc_id").cast("long").as("__forget_doc"))
      .distinct()
    // the retracted CHUNK id set: retraction-sized, pinned once, reused
    // against all four artifacts (broadcast — a takedown list is small)
    val drop = chunks
      .join(broadcast(ids),
        shiftright(col("chunk_id"), ChunkBits) === col("__forget_doc"),
        "left_semi")
      .select("chunk_id").localCheckpoint(true)
    val removed = drop.count()
    if (removed == 0L) return 0L
    require(removed < chunks.count(),
      "RetrievePipeline.forget: retracting the entire corpus — rebuild instead")
    def swapTable(table: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(s"$dir/$table")
      StoreProtocol.rewrite(fs, path, "__forget", "RetrievePipeline.forget") { tmp =>
        readTable(spark, path.toString)
          .join(drop, Seq("chunk_id"), "left_anti")
          .write.mode("overwrite").parquet(tmp.toString)
      }
    }
    // chunks LAST — the drop set derives from them (see the scaladoc's
    // replay-idempotency argument)
    swapTable("vectors")
    if (bm25IsFlat(spark, dir)) Retrieval.forgetBm25(spark, s"$dir/bm25", drop)
    else Retrieval.forgetBm25Incremental(spark, s"$dir/bm25", drop)
    AnnIndex.forgetIvf(spark, s"$dir/ann", drop, "chunk_id")
    // doc blooms: delete BEFORE the chunk swap, rebuild after — blooms
    // are not invertible, and a retracted doc's id lingering in one
    // would silently block its future re-admission (the exact-veto the
    // forget exists to lift; the consolidateBm25 survivor-bloom
    // argument). A crash between the two leaves a committed part with
    // no bloom, which the next bloom-guarded append heals.
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/doc_blooms"), true)
    swapTable("chunks")
    val survivors = readTable(spark, s"$dir/chunks")
    writePartBloom(fs, dir, "base", survivors, survivors.count(),
      StoreProtocol.pinnedFpp(store.meta))
    removed
  }

  /** Attach passage text to a [[query]] result from the persisted chunk
    * store — the serving system's final hop. Two regimes, gated on the
    * MEASURED result size (the frame is pinned anyway, so the count is a
    * cheap readback):
    *
    *   - SERVING regime (≤ `isinCap` rows — the ≤ k-per-query contract
    *     at service-sized query counts): collect the id list and push an
    *     `isin` predicate into the parquet scan, where the build's range
    *     layout prunes it to a handful of row groups — a point lookup,
    *     not a corpus scan.
    *   - BULK regime (a [[query]] result over a corpus-sized query side
    *     — k × |queries| ids): the collect would funnel millions of
    *     longs through the driver and plan a million-literal `In`, so
    *     the store is instead left-semi-joined against the result's
    *     distinct ids — no driver round-trip, and the range layout still
    *     prunes at the join's dynamic filter while the final attach
    *     shuffles on chunk_id like any fact join. Results are identical
    *     (spec-pinned at a forced cap of 0).
    */
  def fetchChunks(spark: SparkSession, dir: String,
                  results: DataFrame, isinCap: Long = 1L << 16): DataFrame = {
    StoreProtocol.open(spark, dir, "chunks")
    // pin the result before it feeds the count, the id collect/semi-join
    // AND the final join — the caller usually hands the un-materialized
    // hybrid plan, which would otherwise execute once per consumer
    val pinned = results.localCheckpoint(true)
    val n = pinned.count()
    if (n <= isinCap) {
      val ids = pinned.select("chunk_id").distinct()
        .collect().map(_.getLong(0)) // bounded: <= isinCap by the gate
      val store = readTable(spark, s"$dir/chunks")
        .filter(col("chunk_id").isin(ids.toIndexedSeq: _*))
        .select(col("chunk_id"), col("chunk_text"))
      pinned.join(broadcast(store), Seq("chunk_id"), "left")
        .select(pinned.columns.map(col).toIndexedSeq :+ col("chunk_text"): _*)
    } else {
      val store = readTable(spark, s"$dir/chunks")
        .join(pinned.select("chunk_id").distinct(), Seq("chunk_id"), "left_semi")
        .select(col("chunk_id"), col("chunk_text"))
      pinned.join(store, Seq("chunk_id"), "left")
        .select(pinned.columns.map(col).toIndexedSeq :+ col("chunk_text"): _*)
    }
  }
}
