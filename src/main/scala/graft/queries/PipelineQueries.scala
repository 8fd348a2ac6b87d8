package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.{Bpe, Dedup, LanguageModel, Multimodal, Pq, QualityModel, Retrieval, Similarity, Sketches, TextAnalysis, UnigramLm}

/** LLM-training-data pipeline operators as oracle-checkable queries over
  * the `documents` and `embeddings` tables. Exact/brute-force variants
  * carry DuckDB oracles; LSH/approximate variants are checked rows-only
  * (their hash functions aren't reproducible in SQL — the exact variants
  * are their verifiers instead, see DedupSpec/SimilaritySpec).
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  // ---- deduplication -----------------------------------------------------

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "text", "doc_id")
      .orderBy("keep_id")

  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(docs(s, dir), "text", "doc_id", k = 8,
        threshold = 0.30, maxDf = 100, portable = true) // md5-poly hashes: SQL-oracle parity
      .orderBy("id_a", "id_b")

  /** Asymmetric containment pairs (see [[Dedup.ngramContainment]]): the
    * short-doc-inside-long-doc duplication Jaccard dilutes away. Portable
    * md5-poly shingles → full DuckDB oracle off the same shingle CTEs as
    * the Jaccard query.
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainment(docs(s, dir), "text", "doc_id", k = 8,
        threshold = 0.8, maxDf = 100, portable = true)
      .orderBy("contained_id", "container_id")

  def dedupWindows(s: SparkSession, dir: String): DataFrame =
    Dedup.windowDedup(docs(s, dir), "text", "doc_id", windowTokens = 16)
      .orderBy("doc_id")

  /** Sliding span-duplication profile (see [[Dedup.spanStats]]): the
    * boundary-insensitive complement of [[dedupWindows]]' tiling —
    * portable md5-poly span hashes → full DuckDB oracle.
    */
  def dedupSpanStats(s: SparkSession, dir: String): DataFrame =
    Dedup.spanStats(docs(s, dir), "text", "doc_id", k = 8, minDocs = 2)
      .orderBy("doc_id")

  /** Keep-first span masking at sliding grain (see [[Dedup.spanMask]]). */
  def dedupSpanMask(s: SparkSession, dir: String): DataFrame =
    Dedup.spanMask(docs(s, dir), "text", "doc_id", k = 8, minDocs = 2)
      .orderBy("doc_id")

  /** Corpus-level span-duplication datasheet row (see
    * [[Dedup.spanProfile]]) — the cheap first look before the full
    * mask/filter pass.
    */
  def dedupSpanProfile(s: SparkSession, dir: String): DataFrame =
    Dedup.spanProfile(docs(s, dir), "text", "doc_id", k = 8, minDocs = 2)

  /** Incremental span dedup against a PERSISTED store (see
    * [[graft.operators.SpanStore]]): the even half ingests once, the odd
    * half probes (duplication counted across committed ∪ batch) and then
    * grows the store in O(batch). Probing before ingesting makes the
    * oracle exact: committed ∪ batch = the whole corpus, so the result
    * is [[dedupSpanStats]]' formula restricted to the odd docs — the
    * same shared CTE chain with one WHERE (no-fork rule).
    */
  def dedupSpanIncremental(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    val store = java.nio.file.Files.createTempDirectory("graft_span_st").toString
    graft.operators.SpanStore.append(s, store,
      all.filter(col("doc_id") % 2 === 0), "text", "doc_id", k = 8)
    val batch = all.filter(col("doc_id") % 2 === 1)
    // one shingle pass feeds probe AND append (the spanIngest lane's
    // reuse contract — the explode is the dominant cost)
    val spans = graft.operators.Dedup.spanShingles(batch, "text", "doc_id", 8)
      .localCheckpoint(true)
    // probe CONSTRUCTION stays before the append (it pins the committed
    // ingest list); its materialization overlaps the append's own jobs —
    // the probe reads only the already-committed (immutable) ingest dirs
    // plus the shared checkpointed spans, so the two legs are
    // independent (guide §2.6)
    val statsDf = graft.operators.SpanStore.probe(s, store, batch,
      "text", "doc_id", k = 8, minDocs = 2, spans = Some(spans))
    val statsF = graft.Par.run(statsDf.localCheckpoint(true))
    // the growth path itself runs in-query (admitted count checked so a
    // silently-empty ingest can never pass green), output is the probe
    val admitted = graft.operators.SpanStore.append(s, store, batch,
      "text", "doc_id", k = 8, spans = Some(spans))
    require(admitted > 0L, s"span store ingest admitted $admitted docs")
    graft.Par.await(statsF).orderBy("doc_id")
  }

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(docs(s, dir), "text", "doc_id", k = 8,
        threshold = 0.30, bands = 8, rowsPerBand = 4, maxDf = 100,
        portable = true) // md5-poly hashes: full DuckDB oracle
      .orderBy("id_a", "id_b")

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(s, dir), "text", "doc_id", maxHamming = 6,
        maxBucket = 1000, portable = true) // md5 token hash: full DuckDB oracle
      .orderBy("id_a", "id_b")

  /** Linear-output dedup: every doc mapped to its near-dup-cluster
    * representative (connected components over the portable minhash
    * pairs). The scale-correct keep-list — pair lists grow quadratically
    * with duplicate-cluster size, this stays one row per doc.
    */
  def dedupClusterReps(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.minhashLsh(d, "text", "doc_id", k = 8,
      threshold = 0.30, bands = 8, rowsPerBand = 4, maxDf = 100, portable = true)
    Dedup.clusterReps(d, pairs, "doc_id").orderBy("doc_id")
  }

  /** Incremental dedup: docs with id % 5 == 0 arrive as the new batch and
    * dedup against the rest (the "already-ingested corpus") through its
    * precomputed minhash state — no corpus reprocessing. Pairs are
    * (batch, corpus) or (batch, batch); the oracle replays both sides'
    * capped-shingle pipelines in SQL.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    // one tokenize/md5 explode pass over the whole table; both sides'
    // states filter the shared materialized stream (caps stay side-local —
    // dropHotKeys counts within each filtered slice). localCheckpoint, not
    // cache: the pair result is lazy, so the blocks must be reclaimable
    // by the ContextCleaner rather than pinned until clearCache().
    val allSh = Dedup.shingleHashesPortable(docs(s, dir), "text", "doc_id", 8)
      .localCheckpoint(true)
    // the two sides' states filter the SAME materialized stream and
    // never touch each other — independent legs, overlapped (guide §2.6)
    val cF = graft.Par.run(Dedup.minhashStateFromHashes(
      allSh.filter(col("doc_id") % 5 =!= 0), "doc_id",
      bands = 8, rowsPerBand = 4, maxDf = 100, portable = true,
      cacheBandSig = false)) // corpus bands feed exactly one join below
    val bF = graft.Par.run(Dedup.minhashStateFromHashes(
      allSh.filter(col("doc_id") % 5 === 0), "doc_id",
      bands = 8, rowsPerBand = 4, maxDf = 100, portable = true))
    val (cBands, cSh) = graft.Par.await(cF)
    val (bBands, bSh) = graft.Par.await(bF)
    Dedup.minhashLshIncrementalFromState(bBands, bSh, cBands, cSh,
        "doc_id", threshold = 0.30)
      .orderBy("id_a", "id_b")
  }

  /** Incremental embedding near-dup against a PERSISTED index — the
    * embedding analog of [[dedupIncremental]]: the corpus slice
    * (vec_id % 5 ≠ 0) is built into an IVF index once, then the batch
    * slice screens against the written artifact (frozen-centroid
    * routing, nprobe cells, exact-cosine verify) before it would be
    * ingested. Same kmeans parameters as sim_topk_ivf_kmeans, so the
    * oracle composes that query's trained-centroid chain over the
    * corpus slice.
    */
  def dedupEmbeddingIncremental(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_incr").toString
    graft.operators.AnnIndex.buildIvf(all.filter(col("vec_id") % 5 =!= 0),
      "embedding", "vec_id", idx, nlist = 8, iters = 5)
    graft.operators.AnnIndex.screenIvf(s, idx, all.filter(col("vec_id") % 5 === 0),
        "embedding", "vec_id", threshold = 0.35, nprobe = 2)
      .orderBy("id_a", "id_b")
  }

  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    // Threshold tuned to the synthetic corpus (max pairwise cosine ~0.46;
    // real near-dup corpora would use ~0.9 with more bits per table).
    // (4 bits, 12 tables, bucket cap 200) measured at sf0.1: recall 0.86
    // of the exact all-pairs set, ~3x faster than the uncapped r1 config.
    Dedup.embeddingNearDup(embs(s, dir), "embedding", "vec_id",
        threshold = 0.35, bits = 4, tables = 12, maxBucket = 200,
        portable = true) // md5 hyperplanes: full DuckDB oracle
      .orderBy("id_a", "id_b")

  /** Exact near-dup pairs on a bounded subset — the oracled verifier for
    * the LSH variant (same threshold; LSH output must be a subset).
    */
  def dedupEmbeddingExact(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.cosine_similarity
    val sub = embs(s, dir).filter(col("vec_id") < 500)
    val a = sub.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = sub.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cosine_similarity(col("va"), col("vb")))
      .filter(col("cosine") >= 0.35)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  // ---- similarity search -------------------------------------------------

  def simTopkBruteforce(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    Similarity.bruteForceTopK(all, all.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5)
      .orderBy("query_id", "rank")
  }

  def simTopkSrp(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    Similarity.srpTopK(all, all.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, bits = 8, tables = 4, maxBucket = 10000,
        portable = true) // md5 hyperplanes: full DuckDB oracle
      .orderBy("query_id", "rank")
  }

  /** IVF ANN: coarse cells via deterministic md5-hash pivots (map-side
    * max_by assignment, no window), queries probe their 2 nearest cells.
    * Fully oracle-checkable — the pivot hash is the portable md5 scheme.
    */
  def simTopkIvf(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    Similarity.ivfTopK(all, all.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, nlist = 16, nprobe = 2)
      .orderBy("query_id", "rank")
  }

  /** The persisted-index lifecycle end-to-end: train + write the IVF
    * index (centroids + cell-partitioned corpus), then answer the same
    * query batch FROM THE WRITTEN ARTIFACT with partition-pruned probes
    * (see [[graft.operators.AnnIndex]]). Same parameters as
    * sim_topk_ivf_kmeans, and the same oracle verbatim: identical
    * centroid floats and routing on both sides of the persistence
    * boundary is the whole contract.
    */
  def simTopkIvfPersisted(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_idx").toString
    graft.operators.AnnIndex.buildIvf(all, "embedding", "vec_id", idx,
      nlist = 8, iters = 5)
    graft.operators.AnnIndex.queryIvf(s, idx, all.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 2)
      .orderBy("query_id", "rank")
  }

  /** The BULK (non-broadcast) query path against the same persisted
    * index: identical build and parameters to sim_topk_ivf_persisted,
    * answered through [[graft.operators.AnnIndex.queryIvfBulk]]'s
    * (cell_id, split) equi-join with the broadcast shortcut disabled
    * and splitting FORCED (maxCellRows = 2) — the driver board runs the
    * hot-cell salted join end to end, and the oracle is shared VERBATIM
    * with the broadcast twin (bit-identical results are the contract,
    * split or not). The conf flip is driver-eager: cellCandidates makes
    * its regime decision at construction time.
    */
  def simTopkIvfBulk(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_bulk").toString
    graft.operators.AnnIndex.buildIvf(all, "embedding", "vec_id", idx,
      nlist = 8, iters = 5)
    val saved = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.operators.AnnIndex.queryIvfBulk(s, idx,
          all.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5,
          nprobe = 2, maxCellRows = 2)
        .orderBy("query_id", "rank")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  /** The persisted IVFADC lifecycle: train + write pivots, PQ codebooks
    * and the code-carrying cell-partitioned corpus, then answer the query
    * batch FROM THE WRITTEN ARTIFACT — ADC scoring over partition-pruned
    * cells, exact re-rank of the shortlist from the same pruned
    * partitions (see [[graft.operators.AnnIndex.queryIvfAdc]]). Same
    * parameters as sim_topk_ivfadc and the same oracle VERBATIM — the
    * persistence-boundary-invariance contract the IVF index established.
    */
  def simTopkIvfAdcPersisted(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft_adc_idx").toString
    graft.operators.AnnIndex.buildIvfAdc(all, "embedding", "vec_id", idx,
      nlist = 16, m = 16, ksub = 32, iters = 3)
    graft.operators.AnnIndex.queryIvfAdc(s, idx, all.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 4, shortlist = 25)
      .orderBy("query_id", "rank")
  }

  /** Recall@5 of the IVF index against the exact brute-force scan — the
    * index-quality evaluation every ANN deployment runs before trusting
    * an index at scale (recall is THE accuracy metric for approximate
    * search; speed numbers are meaningless without it). Both sides are
    * the already-oracled topk operators; the comparison is a semi-join
    * on (query_id, neighbor_id) and a count — nothing float-sensitive
    * beyond the inputs themselves.
    */
  def simEvalRecall(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val qs = all.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(all, qs, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id")
    val approx = Similarity.ivfTopK(all, qs, "embedding", "vec_id",
        k = 5, nlist = 16, nprobe = 2)
      .select("query_id", "neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    qs.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0).as("recall"))
      .orderBy("query_id")
  }

  /** kNN majority-vote labeling: each query vector takes the modal label
    * of its 5 exact nearest neighbors (ties broken by smallest label) —
    * the auto-labeling / label-propagation step a curation pipeline runs
    * to extend a seed label set over an unlabeled corpus, and the
    * straightest read on whether the embedding space respects the label
    * structure at all. The vote window is over ≤k rows per query, never
    * corpus-sized.
    */
  def simLabelKnn(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val qs = all.filter(col("vec_id") < 10)
    val topk = Similarity.bruteForceTopK(all, qs, "embedding", "vec_id", k = 5)
    val votes = topk
      .join(all.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(qs.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        "query_id")
      .select(col("query_id"), col("label").as("pred_label"), col("n_votes"),
        col("true_label"), (col("label") === col("true_label")).as("correct"))
      .orderBy("query_id")
  }

  /** Hard-negative mining: per query, the 5 most-similar vectors with a
    * DIFFERENT label (see [[Similarity.hardNegativesTopK]]) — the
    * contrastive-training counterpart of plain topk.
    */
  def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    Similarity.hardNegativesTopK(all, all.filter(col("vec_id") < 10),
        "embedding", "vec_id", "label", k = 5)
      .orderBy("query_id", "rank")
  }

  /** IVF with k-means-trained cells (8 centers, 5 Lloyd iterations):
    * Lloyd centroids replace the hash pivots — the production ANN shape
    * (train once, persist, probe). Fully oracled since round 4: the
    * integer-grid Lloyd rounds unroll to MATERIALIZED SQL CTEs and the
    * float cast of the trained centroids is replayed exactly, so the
    * shortlist and scores are deterministic across engines. Recall vs
    * brute force additionally spec-pinned in DedupSimilaritySpec.
    */
  def simTopkIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    Similarity.ivfTopKTrained(all, all.filter(col("vec_id") < 10), "embedding",
        "vec_id", k = 5, nlist = 8, iters = 5, nprobe = 2)
      .orderBy("query_id", "rank")
  }

  /** Product-quantization ANN: 8 subspaces × 16 codes trained by fused
    * L2 Lloyd iterations, corpus encoded to 8 small codes per vector,
    * queries score by ADC table lookups (m lookups per pair, no float
    * math). Fully oracled since round 4 (unrolled per-subspace Lloyd
    * CTEs + ordered ADC list sums + refine replay); recall vs brute
    * force and bit-determinism under repartitioning also pinned in
    * PqSpec.
    */
  def simTopkPq(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    Pq.pqTopK(all, all.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, m = 16, ksub = 32, iters = 3, shortlist = 25)
      .orderBy("query_id", "rank")
  }

  /** IVFADC: IVF cells bound WHICH rows are scored (nprobe/nlist of the
    * corpus through an equi hash join on cell_id), PQ codes bound what
    * scoring costs (ADC lookups), exact cosine re-ranks the shortlist —
    * the production billion-scale ANN composition. Fully oracled since
    * round 4 (same PQ chain + md5-pivot cell routing); recall and the
    * no-nested-loop plan also pinned in PqSpec.
    */
  def simTopkIvfAdc(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    Pq.ivfAdcTopK(all, all.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, nlist = 16, nprobe = 4, m = 16, ksub = 32, iters = 3,
        shortlist = 25)
      .orderBy("query_id", "rank")
  }

  /** k-means over the embeddings (k=8, 2 Lloyd iterations, deterministic
    * md5-order seeds, 2^-20 integer-grid centroid arithmetic) — flattened
    * to (cell_id, dim, cval, n_members) scalars. Fully oracle-checkable:
    * the grid makes every centroid coordinate an integer sum ÷ one double
    * division, identical across engines and partitionings.
    */
  def simKmeans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.kmeansFlat(embs(s, dir), "embedding", "vec_id",
        k = 8, iters = 2)
      .orderBy("cell_id", "dim")

  /** Per-cell prototypes (see
    * [[graft.operators.Clustering.prototypes]]): each k-means cell's 10
    * most-representative vectors — diversity-preserving selection. Same
    * (k=8, iters=2) training as sim_kmeans, so the oracle reuses those
    * Lloyd CTEs verbatim.
    */
  def simPrototypes(s: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.prototypes(embs(s, dir), "embedding", "vec_id",
        k = 8, iters = 2, n = 10)
      .orderBy("cell_id", "rank")

  /** SemDeDup-style semantic dedup: k-means cells (same training as
    * [[simKmeans]]), then within each cell drop vectors dominated by a
    * smaller-id cell-mate at cosine ≥ 0.35. One row per vector with its
    * cell and keep/drop verdict.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.semanticDedup(embs(s, dir), "embedding", "vec_id",
        k = 8, iters = 2, threshold = 0.35)
      .orderBy("vec_id")

  /** Int8 quantization, flattened to (vec, dim, qval) rows so the oracle
    * compares scalars (bounded to 100 vectors — the check is the
    * arithmetic, not the volume).
    */
  def embQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(embs(s, dir).filter(col("vec_id") < 100), "embedding", "vec_id")
      .select(col("vec_id"), round(col("scale"), 9).as("scale"),
        posexplode(col("qvec")).as(Seq("dim", "qval")))
      .select("vec_id", "dim", "scale", "qval")
      .orderBy("vec_id", "dim")

  // ---- text analysis -----------------------------------------------------

  def textLangid(s: SparkSession, dir: String): DataFrame = {
    val (pred, hits) = TextAnalysis.langId(col("text"))
    docs(s, dir)
      .select(col("doc_id"), pred.as("lang_pred"), hits.as("n_hits"))
      .orderBy("doc_id")
  }

  /** Measured accuracy of the n-gram-lexicon language-ID heuristic
    * against the labeled `lang` column, per true language — the same
    * approximation-carries-its-accuracy contract as dedup_eval_lsh /
    * dedup_eval_simhash / sim_eval_recall, applied to langid (a
    * heuristic is only trustworthy next to its measured error). One
    * map-only scoring pass + one |langs|-sized aggregate.
    */
  def textLangidEval(s: SparkSession, dir: String): DataFrame = {
    val (pred, _) = TextAnalysis.langId(col("text"))
    docs(s, dir)
      .select(col("lang"),
        (pred === col("lang")).cast("long").as("ok"),
        (pred =!= lit("unknown")).cast("long").as("cov"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("n_correct"),
        round(sum(col("ok")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("accuracy"),
        round(sum(col("cov")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("coverage"))
      .orderBy("lang")
  }

  def textQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(docs(s, dir), "text", "doc_id")
      .select("doc_id", "n_chars", "n_tokens", "n_unique", "n_stopwords",
        "unique_ratio", "stopword_ratio", "mean_token_len", "quality_score")
      .orderBy("doc_id")

  /** NFC canonicalization over the corpus (see
    * [[graft.functions.UnicodeNorm]]) — the byte-canonicalization pass
    * before any hash-keyed operator. Oracled against DuckDB's
    * independent `nfc_normalize` (both implement UAX #15); the NFKC
    * compatibility fold has no DuckDB twin and is pinned in
    * UnicodeNormSpec instead.
    */
  def textNfc(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        graft.functions.nfc_normalize(col("text")).as("text_nfc"),
        (graft.functions.nfc_normalize(col("text")) === col("text"))
          .as("already_nfc"))
      .orderBy("doc_id")

  /** One-call corpus datasheet (see
    * [[graft.operators.CorpusReport.datasheet]]): volume, composition,
    * duplication, quality and PII exposure as 9 (metric, value) rows.
    */
  def corpusDatasheet(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusReport.datasheet(docs(s, dir), "text", "doc_id",
        "lang", "source")
      .orderBy("metric")

  /** Cross-SOURCE span-contamination matrix — the datasheet face of the
    * span family at corpus-composition grain: for every source pair,
    * how many distinct 8-token spans they share (and the Jaccard of
    * their span vocabularies). "Which feeds are re-publishing each
    * other" answered as one group-by-shaped query: the span chain
    * collapses to a (shingle, source) bipartite edge list and
    * [[graft.operators.Graph.coNeighborJaccard]] does the rest —
    * shingles present in more than 100 sources (boilerplate) are
    * dropped from pair generation by the df-cap rule, so a web-wide
    * licence header cannot mint |sources|² rows.
    */
  def corpusOverlapMatrix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ss = Dedup.spanShingles(d, "text", "doc_id", 8)
      .join(d.select("doc_id", "source"), "doc_id")
      .select(col("shingle"), col("source"))
    graft.operators.Graph.coNeighborJaccard(ss, "shingle", "source",
        threshold = 0.0, maxLeftDegree = 100)
      .select(col("id_a").as("source_a"), col("id_b").as("source_b"),
        col("shared").as("shared_spans"), col("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Source centrality in the contamination graph
    * ([[graft.operators.CorpusOps.sourceRank]]): PageRank over the
    * span-overlap source graph — the curation prior behind
    * CuratePipeline's `sourceRankCap` gate, board-visible. Oracle =
    * the overlap-matrix chain composed with the ev_pagerank unrolled-
    * iteration replay (same qsum grid, same IEEE literal forms).
    */
  def corpusSourceRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.sourceRank(docs(s, dir), "text", "doc_id",
        "source")
      .select(col("source"), round(col("rank"), 6).as("rank"))
      .orderBy("source")

  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
        col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("ws_tokens"),
        size(TextAnalysis.tokensRegex(col("text"))).cast("long").as("re_tokens"))
      .orderBy("doc_id")

  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.canonicalFingerprint(col("text")).as("canonical_md5"),
        TextAnalysis.rollingFingerprint(col("text")).as("rolling_hash"))
      .orderBy("doc_id")

  def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(docs(s, dir), "text", "doc_id")
      .orderBy("doc_id")

  /** PII scrub with DETERMINISTICALLY SEEDED pii — the corpus is synthetic
    * clean text, so every third doc gains an email + phone + ip derived
    * from its id; the oracle replays the same seeding, so the redaction
    * regexes are exercised on real matches, not vacuously on zero hits.
    */
  def textPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val seeded = docs(s, dir).withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" reach user"), col("doc_id").cast("string"),
          lit("@mail.example.com or +1 555-010-"),
          (col("doc_id") % 90 + 10).cast("string"),
          lit(" from 10."), (col("doc_id") % 200).cast("string"),
          lit(".3."), (col("doc_id") % 250).cast("string")))
        .otherwise(col("text")))
    TextAnalysis.redactPii(seeded, "text", "doc_id")
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
        col("clean_text"))
      .orderBy("doc_id")
  }

  /** Boilerplate-line removal over a deterministically seeded corpus: a
    * per-source header and a global footer line are injected (the
    * corpus has no natural multi-line docs), then any line appearing in
    * ≥ 10 distinct docs of the same source is dropped and docs are
    * reassembled in line order — the C4/CCNet template-stripping step.
    * Real lines have df ≤ 2 here, so exactly the seeded lines vanish.
    */
  def textBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val seeded = docs(s, dir).select(col("doc_id"), col("source"),
      concat_ws("\n",
        concat(lit("subscribe to "), col("source")),
        col("text"),
        lit("all rights reserved")).as("text"))
    TextAnalysis.removeBoilerplateLines(seeded, "text", "doc_id", "source", minDf = 10)
      .orderBy("doc_id")
  }

  /** C4 line+page cleaning rules over a deterministically seeded corpus:
    * each doc gains a kept line (its text with terminal punctuation), a
    * too-short line, and one rule-violating line by `doc_id % 4`
    * (javascript mention / short-despite-punct / code braces / lorem
    * ipsum), so every rule — line keep, word-count drop, bad-substring
    * drop, punctuation drop, brace page-drop, bad-phrase page-drop — is
    * exercised on real matches. The oracle replays seeding + rules.
    */
  def textC4Filter(s: SparkSession, dir: String): DataFrame = {
    val variant = when(col("doc_id") % 4 === 0,
        lit("please enable javascript to continue."))
      .when(col("doc_id") % 4 === 1, lit("one two."))
      .when(col("doc_id") % 4 === 2, lit("if (x) { return 0; }"))
      .otherwise(lit("lorem ipsum dolor sit amet."))
    val seeded = docs(s, dir).select(col("doc_id"),
      concat_ws("\n", concat(col("text"), lit(".")), lit("click here"), variant)
        .as("text"))
    TextAnalysis.c4LineFilter(seeded, "text", "doc_id")
      .select("doc_id", "n_lines", "n_kept", "clean_text", "keep_page")
      .orderBy("doc_id")
  }

  /** HTML → text extraction over a deterministically seeded wrap: every
    * doc is embedded in a full page (head/title, a script block whose
    * body contains a bare `<`, a style block, headings, an entity-laden
    * div, a comment), then extracted back. The oracle replays the same
    * construction and the same RE2 regex chain.
    */
  def textHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>"), col("source"),
      lit("</title><script type=\"text/javascript\">var a=1; if(a<2){a=3;}" +
        "</script><style>p { color: red; }</style></head><body><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"), col("text"),
      lit("</p><div class=\"x\">Tom &amp; Jerry &lt;3 &quot;ok&quot; " +
        "it&#39;s&nbsp;done</div><!-- hidden --></body></html>"))
    docs(s, dir).select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        length(col("html")).cast("long").as("n_chars_raw"),
        TextAnalysis.htmlToText(col("html")).as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))
      .orderBy("doc_id")
  }

  /** Character-distribution screen (entropy / diversity) — see
    * [[graft.operators.TextAnalysis.charStats]]; in-row sorted-order
    * sums make the rounded doubles engine-portable.
    */
  def textCharEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charStats(docs(s, dir), "text", "doc_id")
      .select("doc_id", "n_chars", "n_distinct_chars", "top_char_frac",
        "char_simpson", "char_entropy")
      .orderBy("doc_id")

  /** Benchmark decontamination: every tenth doc plays the eval set, the
    * rest the corpus; contaminated = sharing any portable 8-gram shingle.
    * The near-dup clusters the dedup operators find are exactly what this
    * should flag when a cluster straddles the split.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Decontam.overlap(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", k = 8, minShared = 1, portable = true)
      .orderBy("doc_id")
  }

  /** [[decontaminate]] through the bloom-prefilter shuffle-join path
    * (`broadcastBench = false` — the "eval side too big to broadcast"
    * regime): identical output, corpus shingles bloom-filtered map-side
    * before the exchange.
    */
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Decontam.overlapBloom(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", k = 8, minShared = 1, portable = true,
        broadcastBench = false)
      .orderBy("doc_id")
  }

  /** [[decontaminate]] answered from a PERSISTED benchmark artifact
    * (shingle table + bloom, built once — see
    * [[graft.operators.Decontam.buildBenchArtifact]]): identical output
    * to the in-memory paths, so it shares their oracle verbatim; what
    * changes is the lifecycle — the bench side is read, not recomputed.
    */
  def decontaminatePersisted(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val art = java.nio.file.Files.createTempDirectory("graft_bench_art").toString
    graft.operators.Decontam.buildBenchArtifact(
      d.filter(col("doc_id") % 10 === 0), "text", "doc_id", art,
      k = 8, portable = true)
    graft.operators.Decontam.overlapPersisted(
        d.filter(col("doc_id") % 10 =!= 0), art, "text", "doc_id",
        k = 8, minShared = 1, portable = true)
      .orderBy("doc_id")
  }

  /** Per-doc contamination fractions over the same corpus/bench split as
    * [[decontaminate]] — every corpus doc scored, clean docs at 0.
    */
  def decontaminateScore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Decontam.contaminationScore(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", k = 8, portable = true)
      .orderBy("doc_id")
  }

  /** Vocabulary head: top-5 tokens per language — token counting feeding
    * the custom TopKPerKey operator (shuffles ≤k rows per language instead
    * of window-sorting the whole vocabulary).
    */
  def corpusVocab(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perKey(
        docs(s, dir)
          .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
          .groupBy("lang", "token").agg(count(lit(1)).as("n")),
        keys = Seq(col("lang")),
        orderBy = Seq(col("n").desc, col("token").asc),
        k = 5)
      .orderBy(col("lang"), col("n").desc, col("token"))

  /** Vocabulary head through the count-min-sketch scale path: the token
    * stream is never shuffled (fixed-memory sketch per language + per-
    * partition Misra-Gries candidates). At this vocabulary size the CMS
    * estimates are collision-free, so the query carries the SAME oracle as
    * the exact `corpus_vocab` — the sketch provably reproduced the exact
    * counts; the eps·N error bound is what changes at scale, pinned in
    * SketchesSpec.
    */
  def corpusVocabCms(s: SparkSession, dir: String): DataFrame =
    Sketches.heavyHitters(
        docs(s, dir)
          .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token")),
        "lang", "token", k = 5)
      .select(col("lang"), col("token"), col("n_est"))
      .orderBy(col("lang"), col("n_est").desc, col("token"))

  /** Trained quality classifier: a linear scorer distilled from the
    * rule-based quality heuristic by distributed Newton iterations
    * (weights enter each iteration as literals; gradient + Hessian = one
    * fixed-point-funneled partial+final aggregate, pivot-free Newton
    * solve on the driver — ~5 corpus jobs total). FULLY oracled: the
    * exp-free Elliot link, floor-quantized integer sums, and fixed-order
    * elimination make every training op an engine-independent IEEE
    * operation, so [[qualityTrainedSql]] replays all five Newton
    * iterations (unrolled CTE chains, like the k-means/BPE oracles) and
    * the driver hash-checks the trained scores. Accuracy,
    * bit-determinism under repartitioning, and loss descent stay pinned
    * in QualityModelSpec.
    */
  def textQualityTrained(s: SparkSession, dir: String): DataFrame = {
    val ft = QualityModel.featureTable(docs(s, dir), "text", "doc_id")
    val w = QualityModel.train(ft, QualityModel.defaultFeatures, "label")
    QualityModel.score(ft, QualityModel.defaultFeatures, w)
      .select(col("doc_id"), col("label").cast("int").as("label"),
        col("predicted"), round(col("score"), 6).as("score"))
      .orderBy("doc_id")
  }

  /** Generated DuckDB replay of [[textQualityTrained]] — full training +
    * scoring, bit-exact. Every operation QualityModel performs is an
    * engine-independent IEEE double op (+,−,×,÷,abs,floor,sqrt) or an
    * exact integer sum, so the replay is faithful to the bit:
    *  - raw features + distilled label (the proven text_quality math);
    *  - the standardization scaler from fixed-point moment sums;
    *  - 5 unrolled Newton iterations: per-row Elliot-link p and σ′
    *    weight from the current weight row, 20 fixed-point sums, then
    *    the pivot-free 5×5 elimination + back-substitution as scalar
    *    CTE chains (fixed op order = replayable; the ridged Hessian is
    *    SPD so no pivoting is needed);
    *  - map-only scoring under the final weights.
    * MATERIALIZED is emitted directly on the multiply-referenced CTEs
    * (rawf feeds stats + feats; feats feeds 5 iterations + scoring) so
    * DuckDB cannot re-inline the corpus scan per reference.
    */
  private[graft] def qualityTrainedSql(iters: Int = 5): String = {
    val stop = TextAnalysis.stopwordsEn.map(w => s"'$w'").mkString(", ")
    // mirrors QualityModel.qsum: clamp ±1e6, floor-quantize by 1e12,
    // exact DECIMAL(38,0) sum, back to double
    def qsum(term: String, alias: String) =
      s"CAST(sum(CAST(floor(least(greatest($term, -1.0e6), 1.0e6) * 1.0e12) " +
        s"AS DECIMAL(38,0))) AS DOUBLE) / 1.0e12 AS $alias"
    val d = 5 // 4 features + bias
    val f: Int => String = i => if (i == d - 1) "1.0" else s"f$i"
    val sb = new StringBuilder("WITH rawf AS MATERIALIZED (\n")
    // raw features + label (identical math to the text_quality oracle)
    sb.append(s"""  SELECT doc_id,
         CAST(n_unique AS DOUBLE) / n_tokens AS f0r,
         CAST(n_stopwords AS DOUBLE) / n_tokens AS f1r,
         CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS f2r,
         CAST(n_tokens AS DOUBLE) / 100.0 AS f3r,
         CASE WHEN round(0.5 * (CAST(n_unique AS DOUBLE) / n_tokens)
              + 0.3 * least(CAST(n_stopwords AS DOUBLE) / n_tokens * 4, 1.0)
              + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) > 0.45
              THEN 1.0 ELSE 0.0 END AS label
  FROM (SELECT doc_id, length(text) AS n_chars,
               len(string_split(lower(trim(text)), ' ')) AS n_tokens,
               len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_unique,
               len(list_filter(string_split(lower(trim(text)), ' '),
                   x -> x IN ($stop))) AS n_stopwords
        FROM documents)),\n""")
    // fixed-point moment sums, then the scaler (mirrors featureTable)
    val moments = (0 to 3).flatMap(i =>
      Seq(qsum(s"f${i}r", s"s$i"), qsum(s"f${i}r * f${i}r", s"q$i")))
    sb.append(s"st AS (SELECT ${moments.mkString(",\n  ")},\n" +
      "  CAST(count(*) AS DOUBLE) AS n FROM rawf),\n")
    val scaler = (0 to 3).flatMap(i => Seq(
      s"s$i / n AS m$i",
      s"sqrt(greatest(q$i / n - (s$i / n) * (s$i / n), 1.0e-12)) AS sd$i"))
    sb.append(s"sc AS (SELECT ${scaler.mkString(", ")} FROM st),\n")
    sb.append("feats AS MATERIALIZED (SELECT doc_id, label, " +
      (0 to 3).map(i => s"(f${i}r - m$i) / sd$i AS f$i").mkString(", ") +
      " FROM rawf, sc),\n")
    sb.append("w0 AS (SELECT " +
      (0 until d).map(i => s"0.0 AS w$i").mkString(", ") + "),\n")
    val margin = s"((((f0*w0 + f1*w1) + f2*w2) + f3*w3) + w4)"
    for (t <- 1 to iters) {
      // one aggregate: gradient X'(y-p) and upper-triangle Hessian X'RX
      val gs = (0 until d).map(i => qsum(s"(label - p) * ${f(i)}", s"g$i"))
      val hs = for (i <- 0 until d; j <- i until d)
        yield qsum(s"r * ${f(i)} * ${f(j)}", s"h$i$j")
      sb.append(s"""s$t AS (SELECT ${(gs ++ hs).mkString(",\n  ")}
  FROM (SELECT label, f0, f1, f2, f3, p, 0.5 / ((1.0 + abs(m)) * (1.0 + abs(m))) AS r
        FROM (SELECT label, f0, f1, f2, f3, m, 0.5 * (1.0 + m / (1.0 + abs(m))) AS p
              FROM (SELECT label, f0, f1, f2, f3, $margin AS m
                    FROM feats, w${t - 1})))),\n""")
      // full (symmetric) matrix with the ridge on the diagonal
      val mat = for (r <- 0 until d; k <- 0 until d) yield {
        val h = if (r <= k) s"h$r$k" else s"h$k$r"
        if (r == k) s"$h + 1.0e-6 AS a$r$k" else s"$h AS a$r$k"
      }
      sb.append(s"n$t AS (SELECT ${(0 until d).map(i => s"g$i AS b$i").mkString(", ")}, " +
        mat.mkString(", ") + s" FROM s$t),\n")
      // forward elimination, fixed order (no pivoting — SPD)
      var live = (for (r <- 0 until d; k <- 0 until d) yield (r, k)).toSet
      var prev = s"n$t"
      for (c <- 0 until d - 1) {
        val fs = (c + 1 until d).map(r => s"a$r$c / a$c$c AS e$r").mkString(", ")
        live = live -- (c + 1 until d).map(r => (r, c))
        val redefined = (for (r <- c + 1 until d; k <- c + 1 until d) yield (r, k)).toSet
        val carryA = live.diff(redefined).toSeq.sorted.map { case (r, k) => s"a$r$k" }
        val carryB = (0 to c).map(r => s"b$r")
        val updA = for (r <- c + 1 until d; k <- c + 1 until d)
          yield s"a$r$k - e$r * a$c$k AS a$r$k"
        val updB = (c + 1 until d).map(r => s"b$r - e$r * b$c AS b$r")
        sb.append(s"e$t$c AS (SELECT ${(carryA ++ carryB ++ updA ++ updB).mkString(", ")}" +
          s" FROM (SELECT *, $fs FROM $prev)),\n")
        prev = s"e$t$c"
      }
      // back-substitution, fixed order (k ascending per row)
      var inner = s"SELECT *, b${d - 1} / a${d - 1}${d - 1} AS x${d - 1} FROM $prev"
      for (r <- d - 2 to 0 by -1) {
        val terms = (r + 1 until d).map(k => s" - a$r$k * x$k").mkString
        inner = s"SELECT *, (b$r$terms) / a$r$r AS x$r FROM ($inner)"
      }
      sb.append(s"d$t AS (SELECT ${(0 until d).map(i => s"x$i AS d$i").mkString(", ")}" +
        s" FROM ($inner)),\n")
      sb.append(s"w$t AS (SELECT ${(0 until d).map(i => s"w$i + d$i AS w$i").mkString(", ")}" +
        s" FROM w${t - 1}, d$t)")
      sb.append(if (t < iters) ",\n" else "\n")
    }
    sb.append(s"""SELECT doc_id, CAST(label AS INTEGER) AS label,
       CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS predicted,
       round(score, 6) AS score
FROM (SELECT doc_id, label, 0.5 * (1.0 + m / (1.0 + abs(m))) AS score
      FROM (SELECT doc_id, label, $margin AS m FROM feats, w$iters))
ORDER BY doc_id""")
    sb.toString
  }

  /** BPE merge training: 16 merges learned from the corpus. Rows-only for
    * the driver (iterative training isn't SQL-expressible); BpeSpec pins
    * the merge sequence word-for-word against a local in-memory reference
    * implementation.
    */
  def corpusBpe(s: SparkSession, dir: String): DataFrame =
    Bpe.trainTable(docs(s, dir), "text", numMerges = 16).orderBy("rank")

  /** The BPE merge table round-tripped through the PERSISTED tokenizer
    * artifact ([[graft.operators.TokenizerArtifact]]): train + save,
    * reload the frozen model, emit the loaded merges — same oracle
    * VERBATIM as corpus_bpe (the persistence-boundary-invariance
    * contract applied to the tokenizer family).
    */
  def corpusBpePersisted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_tok_art").toString
    graft.operators.TokenizerArtifact.trainBpe(docs(s, dir), "text", idx,
      numMerges = 16)
    val loaded = graft.operators.TokenizerArtifact.load(s, idx)
      .asInstanceOf[graft.operators.TokenizerArtifact.BpeTokenizer]
    loaded.merges.map(m => (m.rank, m.left, m.right, m.pairCount))
      .toDF("rank", "left", "right", "pair_count").orderBy("rank")
  }

  /** BPE encoding: per-doc subword statistics under 8 learned merges —
    * train once, broadcast the merge list, one map-only encode pass.
    */
  def corpusBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Bpe.encode(d, "text", "doc_id", Bpe.train(d, "text", numMerges = 8))
      .orderBy("doc_id")
  }

  /** Unigram-LM training: the Viterbi-EM piece table (piece, n, score) —
    * all exact integers, so the driver hash check is byte-stable (see
    * [[graft.operators.UnigramLm]] for the fixed-point contract).
    */
  def corpusUnigramLm(s: SparkSession, dir: String): DataFrame =
    UnigramLm.trainTable(docs(s, dir), "text").orderBy("piece")

  /** Unigram-LM encoding: per-doc (n_words, n_pieces) under the trained
    * pieces — train once, broadcast the scores, one map-only Viterbi
    * pass with a per-task word memo.
    */
  def corpusUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    UnigramLm.encode(d, "text", "doc_id", UnigramLm.train(d, "text"))
      .orderBy("doc_id")
  }

  /** Tokenizer-family comparison — the measured-tradeoff contract
    * applied to the two trained tokenizers: per family, corpus totals
    * and FERTILITY (subword units per word, the standard tokenizer
    * quality metric — lower = fewer pieces per word = cheaper
    * sequences). Both encodes are map-only passes under their broadcast
    * models; the summary is two 1-row aggregates. (BPE counts include
    * its end-of-word sentinel — each family is measured under its own
    * unit definition, stated here so the numbers read correctly.)
    */
  def corpusTokenizerEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bpe = Bpe.encode(d, "text", "doc_id", Bpe.train(d, "text", numMerges = 8))
    val uni = UnigramLm.encode(d, "text", "doc_id", UnigramLm.train(d, "text"))
    def summarize(df: DataFrame, name: String, cnt: String) =
      df.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col(cnt)).as("n_pieces"))
        .select(lit(name).as("tokenizer"), col("n_docs"), col("n_words"),
          col("n_pieces"),
          round(col("n_pieces").cast("double") / col("n_words").cast("double"), 6)
            .as("fertility"))
    summarize(bpe, "bpe", "n_subwords")
      .unionByName(summarize(uni, "unigram", "n_pieces"))
      .orderBy("tokenizer")
  }

  // ---- corpus assembly ---------------------------------------------------

  def corpusSampleHash(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.sampleByHash(docs(s, dir), "doc_id", rate = 0.25, salt = "r2")
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Stratified sample: the 100 lowest-hash docs per language, selected
    * through the TopKPerKey physical operator (bounded heaps — the full
    * corpus is never window-sorted).
    */
  def corpusSampleStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.sampleStratified(docs(s, dir), "doc_id", "lang", n = 100)
      .select("doc_id", "lang")
      .orderBy("lang", "doc_id")

  /** Per-source cap: the 10 highest-quality docs per source, through the
    * TopKPerKey bounded-heap operator — the web-curation guard against a
    * single domain dominating the corpus.
    */
  def corpusDomainCap(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.domainCap(
        TextAnalysis.quality(docs(s, dir), "text", "doc_id")
          .select("doc_id", "source", "quality_score"),
        "doc_id", "source", col("quality_score"), n = 10)
      .orderBy(col("source"), col("quality_score").desc, col("doc_id"))

  /** Exact stratified train/validation/test split by language —
    * 75/12.5/12.5, per-stratum quotas exact (see
    * [[graft.operators.CorpusOps.splitStratified]]; the map-only
    * hash-threshold scale path is spec-pinned against these quotas).
    */
  def corpusSplit(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.splitStratified(docs(s, dir), "doc_id", "lang",
        Seq("train" -> 0.75, "validation" -> 0.125, "test" -> 0.125))
      .orderBy("doc_id")

  /** Curriculum read order: per-source quality ranks interleaved
    * round-robin into one gap-free global position (see
    * [[graft.operators.CorpusOps.curriculumOrder]]).
    */
  def corpusCurriculum(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.curriculumOrder(
        TextAnalysis.quality(docs(s, dir), "text", "doc_id")
          .select("doc_id", "source", "quality_score"),
        "doc_id", "source", col("quality_score"))
      .orderBy("position")

  /** DoReMi domain reweighting (see
    * [[graft.operators.Doremi.domainWeights]]): per-source mixture weights
    * after 5 linearized multiplicative-weights rounds on a
    * deterministically seeded proxy/reference loss pair — pure modular
    * arithmetic on (doc_id, n_chars), so both engines compute the exact
    * same IEEE chain. The oracle unrolls the MW iteration as CTEs over
    * the K-row domain table.
    */
  def corpusDoremi(s: SparkSession, dir: String): DataFrame = {
    val proxy = (col("doc_id") % 7).cast("double") / lit(10.0) +
      (col("n_chars") % 13).cast("double") / lit(100.0)
    val ref = (col("doc_id") % 5).cast("double") / lit(10.0)
    graft.operators.Doremi.domainWeights(docs(s, dir), "source", proxy, ref,
        eta = 1.0, smooth = 0.01, rounds = 5)
      .orderBy("domain")
  }

  /** Deterministic global training-order permutation: (doc_id,
    * shuffle_pos) with positions 1..N in portable-md5-hash order.
    */
  def corpusShuffle(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.globalShuffle(docs(s, dir), "doc_id")
      .select("doc_id", "shuffle_pos")
      .orderBy("doc_id")

  def corpusMixture(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.mixtureSelect(docs(s, dir), "doc_id", "lang",
        weights = Map("en" -> 1.0, "es" -> 0.5, "fr" -> 0.25, "de" -> 0.1),
        defaultWeight = 0.0, salt = "mix")
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Temperature-scaled (α = 0.5) mixture: rare languages upsampled
    * relative to their corpus share, 30% of the corpus kept in
    * expectation.
    */
  def corpusMixtureTemperature(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.mixtureTemperature(docs(s, dir), "doc_id", "lang",
        alpha = 0.5, targetFraction = 0.3, salt = "temp")
      .select("doc_id", "lang")
      .orderBy("doc_id")

  def corpusPack(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.CorpusOps.packSequential(d, "doc_id",
        size(TextAnalysis.tokens(col("text"))), budget = 2048, blocks = 8)
      .select(col("doc_id"), col("block"), col("n_tokens"),
        col("bin_id"), col("bin_offset"))
      .orderBy("doc_id")
  }

  def corpusLengthBuckets(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.lengthBuckets(docs(s, dir), "doc_id",
        size(TextAnalysis.tokens(col("text"))), bucketWidth = 64, maxBucket = 7)
      .orderBy("bucket")

  /** Exact equi-depth length histogram: every bucket holds n/8 docs by
    * construction (gap-free distributed rank — one range shuffle, no
    * single-partition window, no quantile sketch error). Deterministic
    * ties by (value, id); oracled against row_number arithmetic.
    */
  def corpusLengthEquidepth(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.equiDepthBuckets(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", buckets = 8)
      .select("doc_id", "n_chars", "bucket")
      .orderBy("doc_id")

  /** Tokenized training shards — the end-of-pipeline artifact a training
    * run consumes: BPE-encode every doc to token ids (vocabulary =
    * sorted final symbols) and pack the id streams into exact
    * fixed-length blocks (one token-level explode, one shuffle by
    * (stream, bin); order preserved within and across docs). Fully
    * oracled since round 4 (generated SQL: sample-trained merge chain +
    * full-vocabulary rewrite chain + packTokens replay, digests
    * compared); round-trip additionally pinned in BpeSpec.
    */
  def corpusTokenizePack(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // tokenizer trained on a quarter sample, corpus encoded in full —
    // the standard production split (training is iterative and
    // sample-sized; encoding is the map-only full pass)
    val merges = Bpe.train(d.filter(col("doc_id") % 4 === 0), "text", numMerges = 8)
    val (ids, _) = Bpe.encodeIds(d, "text", "doc_id", merges)
    // the raw INTEGER[] block content is pinned in BpeSpec (round-trip);
    // the driver-facing result carries a portable scalar digest of the id
    // stream instead — drivers hash/sort rows, and an array cell is not
    // hashable by that harness
    graft.operators.CorpusOps.packTokens(ids, "doc_id", "token_ids",
        blockSize = 512, blocks = 8)
      .select(col("block"), col("bin_id"), col("n_tokens"),
        md5(array_join(transform(col("token_ids"), _.cast("string")), ","))
          .as("token_digest"))
      .orderBy("block", "bin_id")
  }

  /** Unigram-LM tokenize + pack: pieces trained on the quarter sample,
    * full corpus Viterbi-encoded to ids (UNK fallback live for chars the
    * sample never saw), packed into fixed-size blocks — the unigram twin
    * of [[corpusTokenizePack]], sharing `CorpusOps.packTokens` and the
    * digest convention verbatim.
    */
  def corpusUnigramPack(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pieces = UnigramLm.train(d.filter(col("doc_id") % 4 === 0), "text")
    val (ids, _) = UnigramLm.encodeIds(d, "text", "doc_id", pieces)
    graft.operators.CorpusOps.packTokens(ids, "doc_id", "token_ids",
        blockSize = 512, blocks = 8)
      .select(col("block"), col("bin_id"), col("n_tokens"),
        md5(array_join(transform(col("token_ids"), _.cast("string")), ","))
          .as("token_digest"))
      .orderBy("block", "bin_id")
  }

  /** Per-dimension z-score standardization, exploded to (vec_id, dim,
    * zval) for the cell-exact oracle.
    */
  def embStandardize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.standardize(embs(s, dir), "embedding", "vec_id")
      .select(col("vec_id"), posexplode(col("zvec")).as(Seq("dim", "z")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("z"), 6).as("zval"))
      .orderBy("vec_id", "dim")

  /** Sliding-window chunking: 64-token windows, stride 48 (25% overlap) —
    * the long-document split for pretraining/retrieval corpora. Map-only.
    */
  def corpusChunk(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.chunkDocs(docs(s, dir), "doc_id", "text",
        chunkTokens = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  /** Weighted sampling without replacement (A-ES keys): 200 docs drawn
    * proportional to length, reproducible under any partitioning.
    */
  def corpusSampleWeighted(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.sampleWeighted(docs(s, dir), "doc_id",
        col("n_chars"), k = 200)
      .select("doc_id", "n_chars")
      .orderBy("doc_id")

  /** Token-budget data selection: the highest-quality docs until 20k
    * tokens are in — distributed prefix sum in (quality desc, id) order,
    * no global window (see CorpusOps.selectByBudget).
    */
  def corpusSelectBudget(s: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.quality(docs(s, dir), "text", "doc_id")
    graft.operators.CorpusOps.selectByBudget(
        q.select("doc_id", "n_tokens", "quality_score"),
        "doc_id", col("quality_score"), col("n_tokens"), budget = 20000L)
      .orderBy("doc_id")
  }

  /** DSIR importance resampling toward the English sub-corpus: hashed-
    * bigram likelihood ratios (1024 buckets), Gumbel top-150 draw. The
    * target here is a label slice for oracle determinism; production
    * callers pass any high-quality reference corpus.
    */
  def corpusDsir(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Dsir.select(d, d.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 1024, k = 150, salt = "dsir")
      .orderBy("doc_id")
  }

  /** Hashed multinomial Naive Bayes language classifier: trained on the
    * quarter sample (`doc_id % 4 = 0`, label = lang, 512 buckets),
    * classifying the full corpus — the fastText-shaped router of
    * curation pipelines, as train-once/broadcast-classify relational
    * algebra.
    */
  def textNaiveBayes(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // ONE tokenize/hash/explode pass over the corpus feeds train AND
    // classify (the dedup_incremental shared-stream pattern): the train
    // quarter's features are a subset of the classify features, and
    // train's label join restricts the shared stream to its own docs —
    // rows identical to per-consumer featurization, oracle unchanged
    val tb = graft.operators.NaiveBayes.tokenBuckets(d, "doc_id", "text", 512)
      .localCheckpoint(true)
    val model = graft.operators.NaiveBayes.train(
      d.filter(col("doc_id") % 4 === 0), "doc_id", "text", "lang",
      buckets = 512, features = Some(tb))
    graft.operators.NaiveBayes.classify(d, model, "doc_id", "text",
        buckets = 512, features = Some(tb))
      .orderBy("doc_id")
  }

  /** Snapshot diff (CDC): two deterministic views of the documents table
    * — the "old" snapshot drops doc_id % 7 = 0, the "new" drops
    * doc_id % 5 = 0 and rewrites every doc_id % 3 = 0 text — diffed to
    * (key, added | removed | changed) via narrow (key, content-hash)
    * reductions and one full-outer join. The delta primitive that scopes
    * backfills and triggers incremental downstream work.
    */
  def warehouseDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
    val newSnap = d.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    graft.operators.Cdc.tableDiff(oldSnap, newSnap,
        Seq("doc_id"), Seq("text", "lang", "source"))
      .orderBy("doc_id")
  }

  /** Retraction END TO END through the persisted warehouse — the
    * takedown/opt-out write primitive ([[graft.warehouse.Warehouse
    * .forget]]): write the orders table, retract every key ≡ 0 mod 10
    * (plus one key that was never there — a no-op by contract), read
    * the table back from disk. The oracle is the anti-join semantics in
    * one WHERE clause; matching it proves the delete really rewrote the
    * files (the readback serves only survivors) and removed exactly the
    * keyed rows.
    */
  def warehouseForget(s: SparkSession, dir: String): DataFrame = {
    val wh = new graft.warehouse.Warehouse(s,
      java.nio.file.Files.createTempDirectory("graft_wh_forget").toString)
    val orders = Tables.load(s, dir, "orders")
    wh.overwrite("orders_t", orders)
    wh.forget("orders_t",
      orders.filter(col("o_orderkey") % 10 === 0).select("o_orderkey")
        .unionByName(s.range(1).select(lit(-1L).as("o_orderkey"))),
      "o_orderkey")
    wh.read("orders_t")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Distribution-drift monitor between two snapshots: per-language
    * share in each snapshot and the per-cell |p_a − p_b| (whose half-sum
    * is the total-variation distance). TVD instead of KL/χ² is a
    * deliberate engine choice: it needs no log/exp (libm functions are
    * not bit-identical across engines) — counts, two divisions, abs.
    * Scale shape: two grouped counts (partial-agg'd to |langs| rows), a
    * full-outer join of two tiny tables, and an unpartitioned window
    * over |langs| rows — nothing corpus-sized past the first aggregate.
    */
  def warehouseDrift(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ca = d.filter(col("doc_id") % 2 === 0)
      .groupBy("lang").agg(count(lit(1)).as("n_a"))
    val cb = d.filter(col("doc_id") % 2 =!= 0)
      .groupBy("lang").agg(count(lit(1)).as("n_b"))
    val w = Window.partitionBy()
    ca.join(cb, Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("p_a", col("n_a").cast("double")
        / sum(col("n_a")).over(w).cast("double"))
      .withColumn("p_b", col("n_b").cast("double")
        / sum(col("n_b")).over(w).cast("double"))
      .select(col("lang"), col("n_a"), col("n_b"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        round(abs(col("p_a") - col("p_b")), 6).as("abs_diff"))
      .orderBy("lang")
  }

  /** k-anonymity audit over the (lang, source) quasi-identifier pair:
    * groups with fewer than 5 members — each a re-identification handle
    * if released (see [[graft.operators.Privacy.kAnonViolations]]).
    */
  def privacyKAnon(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.kAnonViolations(docs(s, dir),
        Seq("lang", "source"), k = 5)
      .orderBy("lang", "source")

  /** l-diversity audit: sources whose language distribution is too
    * homogeneous (< 5 distinct langs) — the homogeneity-attack check
    * that k-anonymity alone misses (see
    * [[graft.operators.Privacy.lDiversityViolations]]).
    */
  def privacyLDiv(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.lDiversityViolations(docs(s, dir),
        Seq("source"), "lang", l = 5)
      .orderBy("source")

  /** t-closeness audit: sources whose language DISTRIBUTION sits more
    * than total-variation 0.15 from the corpus-wide one — the skew
    * disclosure distinct-count l-diversity is blind to (see
    * [[graft.operators.Privacy.tClosenessViolations]]). Completes the
    * privacy trio.
    */
  def privacyTClose(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.tClosenessViolations(docs(s, dir),
        Seq("source"), "lang", t = 0.15)
      .orderBy("source")

  /** One-pass column profile of the documents table — row/null/distinct
    * counts and string-rendered min/max per column (see
    * [[graft.operators.Profile.profile]]). All outputs are integral or
    * string, so the result is hash-stable by construction.
    */
  def warehouseProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(docs(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
      .orderBy("col_name")

  /** Per-column UNION ALL replay of [[graft.operators.Profile.profile]]:
    * identical CAST-to-string contract, identical null/distinct
    * semantics (count(expr) skips nulls, count(DISTINCT) too).
    */
  private def profileOracle(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS col_name,
            (SELECT count(*) FROM $table) AS n_rows,
            count(*) - count(CAST($c AS VARCHAR)) AS n_nulls,
            count(DISTINCT CAST($c AS VARCHAR)) AS n_distinct,
            min(CAST($c AS VARCHAR)) AS min_val,
            max(CAST($c AS VARCHAR)) AS max_val
          FROM $table"""
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")

  /** Top-principal-component projection of the embedding table (see
    * [[graft.operators.Pca.powerIterationPc1]]): 6 power-iteration
    * rounds on the exact-quantized covariance, trained AND scored
    * relationally — the oracle replays the identical algorithm, so the
    * learned component itself is hash-checked, not just frozen scoring.
    */
  def embPca(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.powerIterationPc1(embs(s, dir), "embedding", "vec_id",
        dim = 64, iters = 6)
      .select(col("vec_id"), round(col("pc1"), 6).as("pc1"))
      .orderBy("vec_id")

  /** Top-2 components via Hotelling deflation (see
    * [[graft.operators.Pca.powerIterationTop2]]): the deflated second
    * chain AND λ₁ replay relationally — the composed algorithm stays
    * hash-checked end to end.
    */
  def embPca2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.powerIterationTop2(embs(s, dir), "embedding", "vec_id",
        dim = 64, iters = 6)
      .select(col("vec_id"), round(col("pc1"), 6).as("pc1"),
        round(col("pc2"), 6).as("pc2"))
      .orderBy("vec_id")

  /** Full SQL replay of [[graft.operators.Pca.powerIterationPc1]]:
    * flatten → fixed-point means → self-join covariance → `iters`
    * unrolled MATERIALIZED power-iteration rounds → quantized-BIGINT
    * projection. Every cross-row sum is on the qsum grid; every
    * per-element double op is written in the association order the
    * Spark side evaluates.
    */
  private def pcaQsumRaw(term: String) =
    s"CAST(sum(CAST(floor(least(greatest($term, -1.0e6), 1.0e6) * 1.0e12) " +
      s"AS DECIMAL(38,0))) AS DOUBLE) / 1.0e12"

  /** Shared prefix: flat / count / means / covariance CTEs. */
  private def pcaCovCtes(dim: Int): String =
    s"""WITH flat AS MATERIALIZED (
        SELECT vec_id, r.i AS i, CAST(embedding[r.i] AS DOUBLE) AS x
        FROM embeddings, range(1, ${dim + 1}) r(i)),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM embeddings),
      means AS MATERIALIZED (
        SELECT i, ${pcaQsumRaw("x")} / nn.nd AS m FROM flat, nn GROUP BY i, nn.nd),
      pairs AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, ${pcaQsumRaw("a.x * b.x")} AS sxx
        FROM flat a JOIN flat b USING (vec_id) GROUP BY a.i, b.i),
      cov AS MATERIALIZED (
        SELECT p.i, p.j, p.sxx / nn.nd - mi.m * mj.m AS c
        FROM pairs p JOIN means mi ON p.i = mi.i JOIN means mj ON p.j = mj.i, nn)"""

  /** One normalized power-iteration chain over `covName`, vectors named
    * `$p0..$p$iters`, scratch CTEs prefixed to stay collision-free.
    */
  private def pcaIterCtes(covName: String, p: String, dim: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""
      ${p}0 AS (SELECT r.i AS i, 1.0 / sqrt(CAST($dim AS DOUBLE)) AS v
             FROM range(1, ${dim + 1}) r(i)),""")
    for (t <- 1 to iters) {
      sb.append(s"""
      ${p}u$t AS (SELECT c.i, ${pcaQsumRaw("c.c * v.v")} AS u
              FROM $covName c JOIN $p${t - 1} v ON c.j = v.i GROUP BY c.i),
      ${p}n$t AS (SELECT sqrt(${pcaQsumRaw("u * u")}) AS nrm FROM ${p}u$t),
      $p$t AS MATERIALIZED (SELECT i, u / nrm AS v FROM ${p}u$t, ${p}n$t),""")
    }
    sb.setLength(sb.length - 1) // trailing comma
    sb.toString
  }

  private def pcaProjTerm(vAlias: String) =
    s"round(CAST(sum(CAST(floor(least(greatest((f.x - m.m) * $vAlias.v, -1.0e6), 1.0e6)" +
      " * 1.0e12) AS BIGINT)) AS DOUBLE) / 1.0e12, 6)"

  private def pcaOracle(dim: Int, iters: Int): String =
    s"""${pcaCovCtes(dim)},${pcaIterCtes("cov", "v", dim, iters)}
      SELECT f.vec_id,
             ${pcaProjTerm("v")} AS pc1
      FROM flat f JOIN means m ON f.i = m.i JOIN v$iters v ON f.i = v.i
      GROUP BY f.vec_id ORDER BY f.vec_id"""

  /** Two components: the v-chain, then Hotelling deflation (λ via one
    * more mat-vec + fixed-point dot, C₂ = C − λ·v₁v₁ᵀ) and the w-chain
    * on C₂ — every expression in the association order Spark evaluates.
    */
  private def pca2Oracle(dim: Int, iters: Int): String =
    s"""${pcaCovCtes(dim)},${pcaIterCtes("cov", "v", dim, iters)},
      uf AS (SELECT c.i, ${pcaQsumRaw("c.c * v.v")} AS u
             FROM cov c JOIN v$iters v ON c.j = v.i GROUP BY c.i),
      lam AS (SELECT ${pcaQsumRaw("v.v * u.u")} AS l
              FROM uf u JOIN v$iters v ON u.i = v.i),
      cov2 AS MATERIALIZED (
        SELECT c.i, c.j, c.c - ((lam.l * vi.v) * vj.v) AS c
        FROM cov c JOIN v$iters vi ON c.i = vi.i
                   JOIN v$iters vj ON c.j = vj.i, lam),${pcaIterCtes("cov2", "w", dim, iters)}
      SELECT f.vec_id,
             ${pcaProjTerm("v")} AS pc1,
             ${pcaProjTerm("w")} AS pc2
      FROM flat f JOIN means m ON f.i = m.i
                  JOIN v$iters v ON f.i = v.i
                  JOIN w$iters w ON f.i = w.i
      GROUP BY f.vec_id ORDER BY f.vec_id"""

  /** Flagship composition — the whole curation pipeline as ONE declarative
    * plan Catalyst optimizes end-to-end: quality-score filter → exact
    * dedup (keep the lowest id per content hash) → deterministic hash
    * sample → sequence packing. Every stage is an operator from this
    * module; the oracle replays the identical chain in SQL.
    */
  def corpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val quality = TextAnalysis.quality(d, "text", "doc_id")
      .filter(col("quality_score") >= 0.5).select("doc_id")
    // dedup runs on the quality-filtered set (stage order matters: keep
    // ids chosen from the full corpus could be quality-rejected rows,
    // silently dropping content whose quality-passing copies survive)
    val qualityDocs = d.join(quality, "doc_id")
    val keepIds = Dedup.exact(qualityDocs, "text", "doc_id")
      .select(col("keep_id").as("doc_id"))
    val curated = qualityDocs.join(keepIds, "doc_id")
    val sampled = graft.operators.CorpusOps.sampleByHash(curated, "doc_id", 0.5, "pipe")
    graft.operators.CorpusOps.packSequential(sampled, "doc_id",
        size(TextAnalysis.tokens(col("text"))), budget = 1024, blocks = 4)
      .select("doc_id", "block", "n_tokens", "bin_id", "bin_offset")
      .orderBy("doc_id")
  }

  /** [[corpusPipeline]] with the span-grain rewrite stage inserted after
    * exact dedup — the board face of `CuratePipeline.run(maskSpans =
    * true)` (r12 verdict #4): cross-document duplicated 8-token spans
    * are masked out of the survivors ([[Dedup.spanMaskText]], keeper =
    * first global occurrence), fully-masked docs drop, and the PACK runs
    * on the rebuilt text — n_tokens is the kept-token count, so the bin
    * layout reflects what would actually tokenize downstream.
    */
  def corpusPipelineSpanmask(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val quality = TextAnalysis.quality(d, "text", "doc_id")
      .filter(col("quality_score") >= 0.5).select("doc_id")
    val qualityDocs = d.join(quality, "doc_id")
    val keepIds = Dedup.exact(qualityDocs, "text", "doc_id")
      .select(col("keep_id").as("doc_id"))
    val curated = qualityDocs.join(keepIds, "doc_id")
    // the span-mask stage: duplication is counted over the CURATED set
    // (the survivors the rewrite ships), not the raw corpus
    val masked = Dedup.spanMaskText(curated, "text", "doc_id")
      .filter(length(col("text")) > 0)
    val sampled = graft.operators.CorpusOps.sampleByHash(masked, "doc_id", 0.5, "pipe")
    graft.operators.CorpusOps.packSequential(sampled, "doc_id",
        size(TextAnalysis.tokens(col("text"))), budget = 1024, blocks = 4)
      .select("doc_id", "block", "n_tokens", "bin_id", "bin_offset")
      .orderBy("doc_id")
  }

  // ---- multimodal plumbing ----------------------------------------------

  def mmBinaryMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.asBinaryPayloads(docs(s, dir), "text", "doc_id")
      .select(col("doc_id"), col("media_type"), col("byte_len"),
        sha2(col("payload"), 256).as("sha256"))
      .orderBy("doc_id")

  /** Real synth → real decode roundtrip: even ids become valid BMP files,
    * odd ids valid PCM WAVs; the decoder re-reads dims/rate/samples and
    * pixel/sample means FROM THE BYTES, and the oracle recomputes the
    * closed forms from the source text — parity proves the parse.
    */
  def mmFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(
        Multimodal.synthesizeMedia(docs(s, dir), "text", "doc_id"))
      .select(col("doc_id"), col("media_type"), col("byte_len"),
        col("width"), col("height"), col("sample_rate"), col("n_samples"),
        round(col("f0"), 6).as("f0"))
      .orderBy("doc_id")

  /** Nearest-neighbor image resize verified END TO END through real
    * bytes: synthesize real BMPs, resize to 8×6
    * ([[graft.operators.Multimodal.resizeImages]] — real pixel
    * sampling, real re-emitted container), decode the RESULT with the
    * header-walking decoder, and hash-check dims/size/mean-pixel
    * against the oracle's closed-form replay of the same floor-scaled
    * sampling.
    */
  def mmResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(Multimodal.resizeImages(
        Multimodal.synthesizeMedia(docs(s, dir), "text", "doc_id"),
        newW = 8, newH = 6))
      .filter(col("media_type") === "image/bmp")
      .select(col("doc_id"), col("width"), col("height"), col("byte_len"),
        round(col("f0"), 6).as("f0"))
      .orderBy("doc_id")

  /** Perceptual-hash image dedup END TO END through real bytes — the
    * dedup × multimodal intersection: synthesize real BMPs, make a real
    * 2× nearest-neighbor upscaled COPY of each
    * ([[graft.operators.Multimodal.upscaleImages]] — re-encoded
    * container, different bytes, same picture), dHash every payload over
    * the decoded 9×8 luma grid ([[Multimodal.visualHashes]]), and find
    * near-dup pairs by banded Hamming LSH + exact grid-distance verify
    * ([[Dedup.dhashPairs]]). Every original must pair with its scaled
    * copy (the NN floor-sampling identity makes their grids EQUAL — the
    * oracle replays the closed-form grid once and instantiates it under
    * both ids), and unrelated images must not collide. Copy ids live at
    * doc_id + 1e6, far above any fixture id.
    */
  def mmDedup(s: SparkSession, dir: String): DataFrame = {
    val bmps = Multimodal.synthesizeMedia(docs(s, dir), "text", "doc_id")
      .filter(col("media_type") === "image/bmp") // even ids
    val copies = Multimodal.upscaleImages(bmps, 2)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val hashes = Multimodal.visualHashes(bmps.unionByName(copies))
      .select("doc_id", "grid", "dhash")
    Dedup.dhashPairs(hashes, "doc_id", maxHamming = 3,
        maxL1 = 12750.0, maxBucket = 1000)
      .orderBy("id_a", "id_b")
  }

  /** Perceptual dedup of VIDEO FRAMES — the per-frame member of the
    * media-dedup pair ([[mmDedup]] covers images): synthesize real Y4M
    * clips, dHash every decoded frame ([[Multimodal.visualHashes]] emits
    * one row per frame), and pair near-dup frames corpus-wide with the
    * same banded-Hamming + grid-L1 machinery. The synthetic clips
    * contain REAL duplicate frames by construction — frame f's luma
    * stream is the text bytes rotated by f·w·h mod n, so short docs wrap
    * and repeat frames — which is exactly the static-scene/keyframe
    * duplication a video corpus dedups. Frame unit id packs
    * doc_id·16 + frame_idx (nf ≤ 7 < 16).
    */
  def mmDedupVideo(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthesizeVideos(docs(s, dir), "text", "doc_id")
    val hashes = Multimodal.visualHashes(media)
      .select((col("doc_id") * 16 + col("frame_idx")).as("fid"),
        col("grid"), col("dhash"))
    Dedup.dhashPairs(hashes, "fid", maxHamming = 3,
        maxL1 = 12750.0, maxBucket = 1000)
      .orderBy("id_a", "id_b")
  }

  /** Perceptual dedup of AUDIO — the third member of the media-dedup
    * family: synthesize real WAVs, fingerprint each clip's normalized
    * loudness envelope ([[Multimodal.Codec.envelopeGridWav]] → dHash),
    * and pair near-dup clips with the shared banded-Hamming + grid-L1
    * machinery. The duplicate source is the same-content-different-
    * container case every audio corpus carries: each clip is RE-ENCODED
    * under id+1000002 — the id offset shifts the closed-form sample
    * RATE (id mod 5), so the copy's header bytes differ while the PCM
    * samples (a function of the text alone) are identical; the
    * fingerprint must link every clip to its re-encode. (The fixture
    * corpus holds no byte-identical texts, so unlike frames/images the
    * natural-collision channel is empty here — re-encode IS the
    * realistic duplicate for audio.)
    */
  def mmDedupAudio(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val reencoded = d.select((col("doc_id") + 1000002L).as("doc_id"),
      col("text")) // +1000002: parity kept (still WAV), rate class shifted
    val wavs = Multimodal.synthesizeMedia(d.unionByName(reencoded),
        "text", "doc_id")
      .filter(col("media_type") === "audio/wav") // odd ids
    val hashes = Multimodal.visualHashes(wavs)
      .select("doc_id", "grid", "dhash")
    Dedup.dhashPairs(hashes, "doc_id", maxHamming = 3,
        maxL1 = 12750.0, maxBucket = 1000)
      .orderBy("id_a", "id_b")
  }

  /** Media-dedup quality eval — the [[dedupEvalLsh]] contract applied to
    * the dHash screen: precision/recall of the banded-Hamming pair set
    * ([[Dedup.dhashPairs]], default `maxBucket` 1000) against the EXACT
    * all-pairs ground truth (the same two-stage hamming + grid-L1 verify
    * over every pair) on the bounded `doc_id < 500` image slice.
    * Precision is 1 by construction (the banded screen's verify applies
    * exactly the ground truth's filters to a candidate SUBSET), so the
    * number that matters is RECALL — any shortfall is the under-delete
    * attributable to the hot-bucket cap, the quantity the text-dedup
    * evals exist to measure (pigeonhole banding itself is full-recall
    * at the bound).
    */
  def mmDedupEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 500)
    val bmps = Multimodal.synthesizeMedia(d, "text", "doc_id")
      .filter(col("media_type") === "image/bmp")
    val copies = Multimodal.upscaleImages(bmps, 2)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    // one codec pass feeds both stacks (exact + banded)
    val hashes = Multimodal.visualHashes(bmps.unionByName(copies))
      .filter(col("dhash").isNotNull)
      .select("doc_id", "grid", "dhash").localCheckpoint(true)
    val a = hashes.select(col("doc_id").as("id_a"), col("grid").as("grid_a"),
      col("dhash").as("sig_a"))
    val b = hashes.select(col("doc_id").as("id_b"), col("grid").as("grid_b"),
      col("dhash").as("sig_b"))
    // broadcast the (bounded, ≤1000-unit) slice explicitly: the
    // checkpointed frame carries no stats, and the planner would
    // otherwise fall through to a CartesianProduct
    val exact = Dedup.dhashVerify(a.join(broadcast(b),
        col("id_a") < col("id_b")), 3, 12750.0)
      .select(col("id_a"), col("id_b"), lit(1).as("e"), lit(0).as("bn"))
    val banded = Dedup.dhashPairs(hashes, "doc_id", maxHamming = 3,
        maxL1 = 12750.0, maxBucket = 1000)
      .select(col("id_a"), col("id_b"), lit(0).as("e"), lit(1).as("bn"))
    exact.unionByName(banded)
      .groupBy("id_a", "id_b")
      .agg(max(col("e")).as("e"), max(col("bn")).as("bn"))
      .agg(sum(col("e")).as("n_exact"), sum(col("bn")).as("n_banded"),
        sum(when(col("e") === 1 && col("bn") === 1, 1).otherwise(0)).as("n_both"))
      .select(col("n_exact"), col("n_banded"), col("n_both"),
        when(col("n_banded") > 0,
          round(col("n_both").cast("double") / col("n_banded").cast("double"), 6))
          .as("prec"),
        when(col("n_exact") > 0,
          round(col("n_both").cast("double") / col("n_exact").cast("double"), 6))
          .as("rec"))
  }

  /** Doc-level media KEEP-LIST — the linear production output of media
    * dedup (the [[dedupClusterReps]] argument applied to the dHash
    * family): banded perceptual pairs over the image corpus + its 2×
    * upscaled re-encoded copies roll up to connected components, one
    * (doc_id, rep_id) row per image unit. Pair lists grow quadratically
    * with duplicate-cluster size; this stays one row per unit.
    */
  def mmDedupReps(s: SparkSession, dir: String): DataFrame = {
    val bmps = Multimodal.synthesizeMedia(docs(s, dir), "text", "doc_id")
      .filter(col("media_type") === "image/bmp")
    val copies = Multimodal.upscaleImages(bmps, 2)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val media = bmps.unionByName(copies)
    val hashes = Multimodal.visualHashes(media)
      .select("doc_id", "grid", "dhash")
    val pairs = Dedup.dhashPairs(hashes, "doc_id", maxHamming = 3,
      maxL1 = 12750.0, maxBucket = 1000)
    Dedup.clusterReps(media.select("doc_id"), pairs, "doc_id")
      .orderBy("doc_id")
  }

  /** Audio screening features over real synthesized WAVs: RMS (exact —
    * the squared sum is integer), zero-crossing count (exact integer),
    * spectral centroid (integer-funneled DFT — see
    * [[graft.operators.Multimodal.Codec.audioFeaturesOf]]), and the
    * silence/clipping gates. The oracle replays every statistic in
    * closed form from the source text (sample i = (ascii(char i mod n)
    * − 64) · 256), including the O(ns²) DFT as nested list transforms —
    * parity proves both the container parse and the transform.
    */
  def mmAudioFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFeatures(
        Multimodal.synthesizeMedia(docs(s, dir), "text", "doc_id"))
      .filter(col("sample_rate").isNotNull)
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        round(col("rms"), 6).as("rms"), col("n_zero_cross"),
        round(col("centroid_hz"), 6).as("centroid_hz"),
        col("is_silence"), col("is_clipped"))
      .orderBy("doc_id")

  /** Real VIDEO containers end to end: synthesize a valid Y4M clip per
    * document (plain YUV4MPEG2 header + FRAME-marked planar 4:2:0
    * payloads), walk the real markers back, and emit one row per frame
    * with its mean luma — the black/flat-frame screening statistic. The
    * oracle replays geometry and per-frame luma in closed form from the
    * source text (luma byte j of frame f = text[(f·w·h + j) mod n]).
    */
  def mmVideoFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoFrames(
        Multimodal.synthesizeVideos(docs(s, dir), "text", "doc_id"))
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        col("fps_num"), col("n_frames"), round(col("luma"), 6).as("luma"))
      .orderBy("doc_id", "frame_idx")

  /** Frame sampling over binary payloads (every stride-th 32-byte chunk);
    * frames decode back to text slices, so the oracle recomputes them
    * with plain substr over the source column.
    */
  def mmFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.asBinaryPayloads(docs(s, dir), "text", "doc_id"),
        frameBytes = 32, stride = 4)
      .select(col("doc_id"), col("frame_idx"),
        decode(col("frame_bytes"), "UTF-8").as("frame_text"))
      .orderBy("doc_id", "frame_idx")

  // ---- oracles -----------------------------------------------------------

  /** DuckDB cosine-similarity fragment between two list columns. */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a)+1),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len($a)+1),
             i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len($b)+1),
             i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))"""

  /** Exact brute-force top-5 oracle — also the ground-truth CTE of
    * `sim_eval_recall`.
    */
  private def bruteforceTopkSql(maxQ: Int = 10, k: Int = 5): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < $maxQ),
              scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_sum(list_transform(range(1, len(qv)+1),
                         i -> CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(qv)+1),
                            i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
                            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
                         AS cos_exact
                FROM embeddings e, q WHERE e.vec_id <> q.query_id),
              ranked AS (
                SELECT query_id, neighbor_id, cos_exact,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_exact DESC, neighbor_id) AS rank
                FROM scored)
         SELECT query_id, rank, neighbor_id, round(cos_exact, 6) AS cosine
         FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""

  /** Hash-pivot IVF top-5 oracle — also the approximate CTE of
    * `sim_eval_recall`.
    */
  private lazy val ivfTopkSql: String =
    s"""WITH pivots AS (
            SELECT vec_id AS pivot_id, embedding AS pivot_vec FROM embeddings
            ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6)) AS BIGINT),
                     vec_id
            LIMIT 16),
          assigned AS (
            SELECT vec_id, embedding, pivot_id AS cell_id FROM (
              SELECT e.vec_id, e.embedding, p.pivot_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "p.pivot_vec")} DESC, p.pivot_id) AS rn
              FROM embeddings e CROSS JOIN pivots p)
            WHERE rn = 1),
          qprobe AS (
            SELECT query_id, q_vec, cell_id FROM (
              SELECT e.vec_id AS query_id, e.embedding AS q_vec, p.pivot_id AS cell_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "p.pivot_vec")} DESC, p.pivot_id) AS rn
              FROM embeddings e CROSS JOIN pivots p WHERE e.vec_id < 10)
            WHERE rn <= 2),
          scored AS (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   ${cosSql("q.q_vec", "a.embedding")} AS c
            FROM qprobe q JOIN assigned a
              ON a.cell_id = q.cell_id AND a.vec_id <> q.query_id),
          ranked AS (
            SELECT query_id, neighbor_id, c,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, neighbor_id) AS rank
            FROM scored)
         SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Shared oracle of `decontaminate` and `decontaminate_bloom` (same
    * exact semantics, different plan).
    */
  private lazy val decontaminateSql: String =
    s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
          bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
          ${shingleChainCtes("cs_", "corp", None)},
          ${shingleChainCtes("bs_", "bench", None)}
        SELECT cs_kept.doc_id AS doc_id,
               count(DISTINCT cs_kept.shingle) AS n_shared_shingles,
               count(DISTINCT bs_kept.doc_id) AS n_bench_docs
        FROM cs_kept JOIN bs_kept ON bs_kept.shingle = cs_kept.shingle
        GROUP BY cs_kept.doc_id
        ORDER BY doc_id"""

  /** Assignment CTE of one Lloyd round: nearest centroid of `prev` (which
    * must expose (c, cv)), cosine ties toward the lowest cell id — exactly
    * [[graft.operators.Clustering.assign]].
    */
  private def kmAssignSql(i: Int, prev: String, mat: Boolean = false,
                          src: String = "embeddings"): String =
    s"""assign$i AS ${kmMat(mat)}(
          SELECT vec_id, embedding, c AS cell_id FROM (
            SELECT e.vec_id, e.embedding, s.c,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${cosSql("e.embedding", "s.cv")} DESC, s.c) AS rn
            FROM $src e CROSS JOIN $prev s)
          WHERE rn = 1)"""

  /** Centroid-update CTEs of one Lloyd round: per-(cell, dim) BIGINT sums
    * of floor(x·2^20) and one double division — exactly
    * [[graft.operators.Clustering.lloydStep]]'s integer-grid mean. Cells
    * with no members keep `prev`'s centroid.
    */
  private def kmUpdateSql(i: Int, prev: String, mat: Boolean = false): String =
    s"""ex$i AS ${kmMat(mat)}(
          SELECT cell_id,
                 unnest(list_transform(range(1, len(embedding)+1),
                   ii -> {'d': ii - 1, 'x': embedding[CAST(ii AS INTEGER)]})) AS u
          FROM assign$i),
        upd$i AS ${kmMat(mat)}(
          SELECT cell_id, u.d AS dim,
                 SUM(CAST(floor(CAST(u.x AS DOUBLE) * 1048576) AS BIGINT)) AS sq,
                 COUNT(*) AS n
          FROM ex$i GROUP BY cell_id, u.d),
        cent$i AS ${kmMat(mat)}(
          SELECT s.c,
                 CASE WHEN s.c IN (SELECT cell_id FROM upd$i)
                      THEN (SELECT list(CAST(u2.sq AS DOUBLE) / (CAST(u2.n AS DOUBLE) * 1048576)
                                        ORDER BY u2.dim)
                            FROM upd$i u2 WHERE u2.cell_id = s.c)
                      ELSE s.cv END AS cv
          FROM $prev s)"""

  /** Seed CTE: the first `k` vectors in md5-hash order as cells 0..k-1 —
    * the SQL replay of [[graft.operators.Clustering.seedCentroids]].
    */
  /** "MATERIALIZED " or "" — the km CTE generators emit the keyword
    * directly in the CTE header so it cannot silently detach from a
    * drifting name/spacing (it used to be a post-hoc regex rewrite).
    */
  private def kmMat(mat: Boolean): String = if (mat) "MATERIALIZED " else ""

  private def kmSeedSql(k: Int, mat: Boolean = false,
                        src: String = "embeddings"): String =
    s"""seeds AS ${kmMat(mat)}(
         SELECT CAST(row_number() OVER (
                  ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6)) AS BIGINT),
                           vec_id) AS INT) - 1 AS c,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         FROM $src
         QUALIFY row_number() OVER (
                  ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6)) AS BIGINT),
                           vec_id) <= $k)"""

  /** Seed + `iters` unrolled Lloyd rounds: defines `cent$iters` as the
    * trained centroids — the SQL replay of Clustering.kmeans(k, iters).
    * Each round chains assign$i/cent$i off cent${i-1}; DuckDB inlines a
    * CTE once per reference, and cent$i references its predecessor ~3×,
    * so a deep chain re-evaluates its prefix exponentially unless the
    * per-round CTEs are MATERIALIZED (the BPE-oracle lesson) — pass
    * `materialize = true` for iters > 2. Materialization never changes
    * results, only evaluation count. The flag is threaded into each CTE
    * generator (emitted in the header itself), not applied by rewriting
    * the generated text — a name/spacing drift can no longer silently
    * strip the keyword and hand DuckDB an exponential re-evaluation.
    */
  private def kmChainCtes(k: Int, iters: Int, materialize: Boolean = false,
                          src: String = "embeddings"): String =
    (Seq(kmSeedSql(k, materialize, src)) ++ (1 to iters).flatMap { i =>
      val prev = if (i == 1) "seeds" else s"cent${i - 1}"
      Seq(kmAssignSql(i, prev, materialize, src), kmUpdateSql(i, prev, materialize))
    }).mkString(",\n")

  /** Seed + 2 Lloyd rounds + final assignment (`assign3` against `cent2`)
    * — the SQL replay of Clustering.kmeans(k=8, iters=2) ∘ assign.
    */
  private val kmeansCtes: String =
    Seq(kmChainCtes(8, 2), kmAssignSql(3, "cent2")).mkString(",\n")

  /** Portable-SRP signature CTEs: hyperplane weights from md5 (exactly
    * VectorOps.srpSignaturePortable), per-(vector, table) bucket strings.
    * Dim fixed at 64 (every SF's embeddings table; the Spark side adapts
    * per row, the oracle pins the fixture's width).
    */
  private def srpSigsCte(tables: Int, bits: Int, seedBase: Int): String =
    s"""w AS (
          SELECT t.range AS t, b.range AS b, i.range AS i,
                 (CAST(('0x' || substr(md5('w:' || ($seedBase + t.range) || ':' || b.range
                        || ':' || i.range), 1, 6)) AS BIGINT) - 8388608) / 8388608.0 AS wv
          FROM range($tables) t, range($bits) b, range(64) i),
        sums AS (
          SELECT e.vec_id, w.t, w.b,
                 sum(w.wv * CAST(e.embedding[w.i + 1] AS DOUBLE)) AS s
          FROM embeddings e, w
          GROUP BY e.vec_id, w.t, w.b),
        sigs AS (
          SELECT vec_id,
                 t || ':' || string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bucket
          FROM sums GROUP BY vec_id, t)"""

  /** THE portable (md5-poly) 8-gram shingle formula as a CTE chain over
    * `src`, names prefixed `p`: defines `${p}kept` (per-doc-distinct
    * shingles, df-capped when `cap` is set) and `${p}sizes`. Mirrors
    * `Dedup.shingleHashesPortable` (+ `dropHotKeys`). ONE definition —
    * every shingling oracle (ngram, minhash, cluster-reps, decontaminate,
    * incremental) derives from here so the formula cannot fork.
    */
  private def shingleChainCtes(p: String, src: String, cap: Option[Int]): String = {
    val kept = cap match {
      case Some(c) =>
        s"""${p}kept AS (
             SELECT doc_id, shingle FROM ${p}shd
             WHERE shingle IN (SELECT shingle FROM ${p}shd GROUP BY shingle HAVING count(*) <= $c))"""
      case None => s"${p}kept AS (SELECT doc_id, shingle FROM ${p}shd)"
    }
    s"""${p}toks AS (
         SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM $src),
       ${p}th AS (
         SELECT doc_id, len(w) AS n,
                list_transform(w, t -> CAST(('0x' || substr(md5(t), 1, 6)) AS BIGINT)) AS h
         FROM ${p}toks),
       ${p}sh0 AS (
         SELECT doc_id,
                unnest(CASE WHEN n < 8
                       THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), h),
                             (a, b) -> (a * 31 + b) % 1000000007)]
                       ELSE list_transform(range(1, n - 6),
                            i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(h, i, i + 7)),
                                 (a, b) -> (a * 31 + b) % 1000000007)) END) AS shingle
         FROM ${p}th),
       ${p}shd AS (SELECT DISTINCT doc_id, shingle FROM ${p}sh0),
       $kept,
       ${p}sizes AS (SELECT doc_id, count(*) AS n_sh FROM ${p}kept GROUP BY doc_id)"""
  }

  /** THE portable minhash banding formula (affine families mod 1e9+7,
    * plain-text band keys) over `${p}kept`: defines `${p}bands`. Mirrors
    * `Dedup.bandKeysFor(portable = true)`; same no-fork rule.
    */
  private def minhashBandCtes(p: String): String =
    s"""${p}sigs AS (
         SELECT doc_id, i,
                min((shingle * ((2654435761 * (i + 1)) % 1000000007)
                     + (40503 * (i * i + 1)) % 1000000007) % 1000000007) AS m
         FROM ${p}kept CROSS JOIN range(32) AS r(i) GROUP BY doc_id, i),
       ${p}sigl AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM ${p}sigs GROUP BY doc_id),
       ${p}bands AS (
         SELECT doc_id,
                b || ':' || array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ':') AS band_key
         FROM ${p}sigl CROSS JOIN range(8) AS rb(b))"""

  /** Full-corpus instantiation (bare names, cap 100) used by the ngram /
    * minhash / cluster-reps oracles.
    */
  private val shingleCte = "WITH " + shingleChainCtes("", "documents", Some(100))

  /** POSITIONAL (non-distinct, sliding) 8-gram portable shingles — the
    * SQL replay of `Dedup.spanShingles(k = 8)` (same md5-poly arithmetic
    * as [[shingleChainCtes]], positions kept instead of distinct'd;
    * range(1, n - 6) is empty below 8 tokens, matching the operator's
    * no-spans-under-k rule). Defines `sp` (doc_id, pos, shingle), `occ`
    * (occurrences of spans in ≥ 2 distinct docs) and `base` (per-doc
    * token counts) — both span oracles derive from here (no-fork rule).
    */
  private def spanChainBody(src: String): String =
    s"""toks AS (
         SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM $src),
       th AS (
         SELECT doc_id, len(w) AS n,
                list_transform(w, t -> CAST(('0x' || substr(md5(t), 1, 6)) AS BIGINT)) AS h
         FROM toks),
       spl AS (
         SELECT doc_id,
                list_transform(range(1, n - 6),
                  i -> {'pos': i - 1,
                        'sh': list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(h, i, i + 7)),
                              (a, b) -> (a * 31 + b) % 1000000007)}) AS sl
         FROM th),
       sp0 AS (SELECT doc_id, unnest(sl) AS u FROM spl),
       sp AS (SELECT doc_id, u.pos AS pos, u.sh AS shingle FROM sp0),
       dupsp AS (SELECT shingle FROM sp GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2),
       occ AS (SELECT s.doc_id, s.pos, s.shingle FROM sp s JOIN dupsp d ON s.shingle = d.shingle),
       base AS (
         SELECT doc_id, CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens
         FROM $src)"""

  private val spanChainCtes: String = "WITH " + spanChainBody("documents")

  /** The contamination-graph PageRank unrolled (corpus_source_rank):
    * the overlap-matrix (shingle, source) chain collapsed to a weighted
    * undirected edge list, then the ev_pagerank replay — every cross-row
    * sum through the fixed-point qsum grid, literals in the same IEEE
    * double forms Spark computes, one MATERIALIZED CTE per iteration.
    */
  private def corpusSourceRankSql(iters: Int = 5): String = {
    def qsumRaw(term: String) =
      s"CAST(sum(CAST(floor(least(greatest($term, -1.0e6), 1.0e6) * 1.0e12) " +
        s"AS DECIMAL(38,0))) AS DOUBLE) / 1.0e12"
    val sb = new StringBuilder(spanChainCtes)
    sb.append("""
     ,
     ss AS (SELECT DISTINCT d2.source AS r, s.shingle AS l
            FROM sp s JOIN documents d2 ON d2.doc_id = s.doc_id),
     shot AS (SELECT l FROM ss GROUP BY l HAVING count(*) > 100),
     skept AS (SELECT ss.* FROM ss WHERE ss.l NOT IN (SELECT l FROM shot)),
     spr AS (SELECT x.r AS source_a, y.r AS source_b, count(*) AS shared
             FROM skept x JOIN skept y ON x.l = y.l AND x.r < y.r
             GROUP BY 1, 2),
     gedges AS MATERIALIZED (
       SELECT source_a AS src, source_b AS dst, CAST(shared AS DOUBLE) AS w FROM spr
       UNION ALL
       SELECT source_b AS src, source_a AS dst, CAST(shared AS DOUBLE) AS w FROM spr),
     outw AS (SELECT src, CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS out_w
              FROM gedges GROUP BY src),
     pe2 AS MATERIALIZED (SELECT e.src, e.dst, e.w / o.out_w AS p
                         FROM gedges e JOIN outw o USING (src)),
     gnodes AS MATERIALIZED (SELECT DISTINCT node FROM
       (SELECT src AS node FROM gedges UNION ALL SELECT dst FROM gedges)),
     nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM gnodes),
     r0 AS MATERIALIZED (SELECT node, 1.0 / nd AS rank FROM gnodes, nn)""")
    (1 to iters).foreach { t =>
      sb.append(s""",
      i$t AS (SELECT pe2.dst, ${qsumRaw("r.rank * pe2.p")} AS inc
              FROM pe2 JOIN r${t - 1} r ON pe2.src = r.node GROUP BY pe2.dst),
      dg$t AS (SELECT coalesce(${qsumRaw("r.rank")}, 0.0) AS dang FROM r${t - 1} r
               WHERE NOT EXISTS (SELECT 1 FROM pe2 WHERE pe2.src = r.node)),
      r$t AS MATERIALIZED (
        SELECT n.node,
               (1.0 - 0.85) / nn.nd + 0.85 * (coalesce(i.inc, 0.0) + d.dang / nn.nd) AS rank
        FROM gnodes n LEFT JOIN i$t i ON n.node = i.dst, dg$t d, nn)""")
    }
    sb.append(s"""
     SELECT node AS source, round(rank, 6) AS rank FROM r$iters ORDER BY source""")
    sb.toString
  }

  /** The simplified curation HEAD shared by the pipeline oracles
    * (quality gate → exact-dedup keepers): defines `f` (features), `q`
    * (quality survivors) and `k` (keepers, with original-text token
    * counts). No-fork rule: corpus_pipeline and its span-mask variant
    * must walk the identical head.
    */
  private val pipelineHeadCtes: String = {
    val stop = TextAnalysis.stopwordsEn.map(w => s"'$w'").mkString(", ")
    s"""f AS (
           SELECT doc_id, text,
                  len(string_split(lower(trim(text)), ' ')) AS n_tokens,
                  len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_unique,
                  len(list_filter(string_split(lower(trim(text)), ' '),
                      x -> x IN ($stop))) AS n_stop
           FROM documents),
         q AS (
           SELECT doc_id, n_tokens FROM f
           WHERE round(0.5 * (CAST(n_unique AS DOUBLE) / n_tokens)
                 + 0.3 * least(CAST(n_stop AS DOUBLE) / n_tokens * 4, 1.0)
                 + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) >= 0.5),
         k AS (
           SELECT q.doc_id, q.n_tokens FROM q
           WHERE q.doc_id IN (
             SELECT min(f2.doc_id) FROM f f2
             WHERE f2.doc_id IN (SELECT doc_id FROM q)
             GROUP BY md5(f2.text)))"""
  }

  /** The sequential-pack tail over `smp` (doc_id, n_tokens, block) —
    * shared by both pipeline oracles.
    */
  private val packTailSql: String =
    """, st AS (
           SELECT doc_id, block, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY block ORDER BY doc_id) - n_tokens
                    AS BIGINT) AS ss
           FROM smp)
         SELECT doc_id, block, n_tokens, CAST(ss // 1024 AS BIGINT) AS bin_id,
                CAST(ss % 1024 AS BIGINT) AS bin_offset
         FROM st ORDER BY doc_id"""

  /** The per-doc span-duplication stats tail over `occ`/`base` — shared
    * by the full-corpus oracle and the incremental-store oracle (which
    * restricts OUTPUT rows to the batch half while duplication stays
    * counted over all docs — exactly SpanStore.probe's committed ∪ batch
    * semantics when the batch is probed before its own ingest).
    */
  private def spanStatsTailSql(where: String): String =
    s""",
         spc AS (SELECT doc_id, count(*) AS dup_spans FROM occ GROUP BY doc_id),
         cov0 AS (SELECT doc_id, unnest(range(pos, pos + 8)) AS t FROM occ),
         cov AS (SELECT DISTINCT doc_id, t FROM cov0),
         covc AS (SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY doc_id)
       SELECT b.doc_id, b.n_tokens,
              CAST(COALESCE(s.dup_spans, 0) AS BIGINT) AS dup_spans,
              CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
              round(CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6) AS dup_fraction
       FROM base b LEFT JOIN spc s ON s.doc_id = b.doc_id
                   LEFT JOIN covc c ON c.doc_id = b.doc_id
       $where
       ORDER BY b.doc_id"""

  /** The jaccard pair selection over `kept`/`sizes` — shared by the
    * full-corpus oracle and the bounded-subset fidelity eval (no-fork).
    */
  private val jaccardPairsTail: String = """
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                round(CAST(count(*) AS DOUBLE)
                      / (any_value(sa.n_sh) + any_value(sb.n_sh) - count(*)), 6) AS jaccard
         FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         JOIN sizes sa ON sa.doc_id = a.doc_id
         JOIN sizes sb ON sb.doc_id = b.doc_id
         GROUP BY a.doc_id, b.doc_id
         HAVING CAST(count(*) AS DOUBLE)
                / (any_value(sa.n_sh) + any_value(sb.n_sh) - count(*)) >= 0.30
         ORDER BY id_a, id_b"""

  /** Banded-minhash candidate + verified-pair CTEs, appended to
    * [[shingleCte]] (ends in a `pairs` CTE both minhash oracles share).
    */
  private val minhashPairCtes =
    ",\n" + minhashBandCtes("") + """,
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x JOIN bands y ON x.band_key = y.band_key AND x.doc_id < y.doc_id),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS n_inter
           FROM cand c JOIN kept a ON a.doc_id = c.id_a
                       JOIN kept b ON b.doc_id = c.id_b AND b.shingle = a.shingle
           GROUP BY c.id_a, c.id_b),
         pairs AS (
           SELECT i.id_a, i.id_b,
                  round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
           FROM inter i
           JOIN sizes sa ON sa.doc_id = i.id_a
           JOIN sizes sb ON sb.doc_id = i.id_b
           WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.30)"""

  /** BPE merge-training as generated SQL: `numMerges` unrolled
    * generations, each = weighted adjacent-pair count → argmax (count
    * desc, pair asc — the engine's tie-break) → greedy left-to-right
    * non-overlapping merge rewrite. The rewrite is exact, including the
    * a=a run case ("aaa" + merge (a,a) → [aa, a]): pair-start positions
    * form gaps-and-islands (consecutive starts only happen for equal
    * symbols), and greedy selects the even offsets within each island.
    * Mirrors `Bpe.train`/`Bpe.mergePair`; generations are MATERIALIZED
    * so DuckDB doesn't inline the chain exponentially. Defines w0..w{n}
    * (per-word symbol lists) and b0..b{n-1} (the merge table rows) —
    * and because `Bpe.encode` applies the same merges in the same rank
    * order, w{n} IS the per-word encode result the encode oracle joins.
    */
  /** Weighted per-word symbol table (chars + end-of-word sentinel) from a
    * source relation exposing `text` — generation 0 of a BPE chain.
    */
  private def bpeW0(name: String, src: String): String =
    s"""$name AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS w,
             list_append(list_transform(range(1, length(word) + 1),
               i -> substr(word, CAST(i AS INTEGER), 1)), '</w>') AS syms
      FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word FROM $src)
      WHERE length(word) > 0
      GROUP BY word)"""

  /** One greedy merge-rewrite generation: `${p}${k+1}` from `${p}$k`
    * applying the training chain's merge `b$k` (gaps-and-islands greedy
    * left-to-right non-overlapping scan — exact, including same-symbol
    * runs). Prefix `p` lets the TRAINING chain (w…) and a separate
    * ENCODE-only chain over another word table (v…) share the one
    * rewrite definition (no-fork rule, same as the shingle CTEs).
    */
  private def bpeRewriteCtes(p: String, k: Int): String =
    s"""${p}e$k AS (
      SELECT word, w, u.pos AS pos, u.sym AS sym FROM (
        SELECT word, w, unnest(list_transform(range(1, len(syms) + 1),
          i -> {'pos': i, 'sym': syms[CAST(i AS INTEGER)]})) AS u
        FROM ${p}$k)),
    ${p}m$k AS (
      SELECT word, w, pos, sym,
             coalesce(sym = (SELECT l FROM b$k) AND
               lead(sym) OVER (PARTITION BY word ORDER BY pos) = (SELECT r FROM b$k),
               false) AS ps
      FROM ${p}e$k),
    ${p}i$k AS (
      SELECT word, w, pos, sym, ps,
             CASE WHEN ps THEN pos - row_number() OVER (PARTITION BY word, ps ORDER BY pos) END AS isl
      FROM ${p}m$k),
    ${p}s$k AS (
      SELECT word, w, pos, sym,
             ps AND ((pos - min(pos) OVER (PARTITION BY word, isl)) % 2 = 0) AS sel
      FROM ${p}i$k),
    ${p}${k + 1} AS MATERIALIZED (
      SELECT word, w, list(ns ORDER BY pos) AS syms FROM (
        SELECT word, w, pos,
               CASE WHEN sel THEN sym || (SELECT r FROM b$k) ELSE sym END AS ns,
               coalesce(lag(sel) OVER (PARTITION BY word ORDER BY pos), false) AS consumed
        FROM ${p}s$k)
      WHERE NOT consumed
      GROUP BY word, w)"""

  private def bpeChainCtes(numMerges: Int, src: String = "documents"): String = {
    val parts = Seq.newBuilder[String]
    parts += bpeW0("w0", src)
    (0 until numMerges).foreach { k =>
      parts += s"""p$k AS (
      SELECT u.l AS l, u.r AS r, sum(w) AS pw FROM (
        SELECT w, unnest(list_transform(range(1, len(syms)),
          i -> {'l': syms[CAST(i AS INTEGER)], 'r': syms[CAST(i AS INTEGER) + 1]})) AS u
        FROM w$k)
      GROUP BY u.l, u.r),
    b$k AS MATERIALIZED (
      SELECT l, r, CAST(pw AS BIGINT) AS pw FROM p$k
      ORDER BY pw DESC, l ASC, r ASC LIMIT 1),
    ${bpeRewriteCtes("w", k)}"""
    }
    parts.result().mkString(",\n    ")
  }

  /** SQL replay of Pq.train + final encode: seeds = sub-slices of the
    * first `ksub` vectors in md5-id order, then `iters` fused Lloyd
    * rounds over every subspace (squared-L2 argmin with ties toward the
    * lowest code — Pq's strict `<` scan — and Clustering.Grid integer
    * sums), then `pcode$iters` = the corpus codes under the trained
    * codebooks `cb$iters`. Dim pinned at 64 (every SF's embeddings
    * fixture; same pinning as srpSigsCte). All per-round CTEs are
    * MATERIALIZED — the chain is deep and referenced multiply.
    */
  private def pqChainCtes(m: Int, ksub: Int, iters: Int): String = {
    val dsub = 64 / m
    val parts = Seq.newBuilder[String]
    parts +=
      s"""pseed AS MATERIALIZED (
         SELECT CAST(row_number() OVER (
                  ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6)) AS BIGINT),
                           vec_id) AS INT) - 1 AS j,
                embedding
         FROM embeddings
         QUALIFY row_number() OVER (
                  ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6)) AS BIGINT),
                           vec_id) <= $ksub),
       cb0 AS MATERIALIZED (
         SELECT sr.range AS s, p.j AS j,
                list_transform(range(1, $dsub + 1),
                  t -> CAST(p.embedding[CAST(sr.range * $dsub + t AS INTEGER)] AS DOUBLE)) AS cv
         FROM pseed p, range($m) sr)"""
    // rounds 0..iters-1 train; round `iters` is the final encode (codes only)
    (0 to iters).foreach { k =>
      parts +=
        s"""pdist$k AS (
         SELECT e.vec_id, c.s, c.j,
                list_sum(list_transform(range(1, $dsub + 1),
                  t -> (CAST(e.embedding[CAST(c.s * $dsub + t AS INTEGER)] AS DOUBLE)
                          - c.cv[CAST(t AS INTEGER)])
                       * (CAST(e.embedding[CAST(c.s * $dsub + t AS INTEGER)] AS DOUBLE)
                          - c.cv[CAST(t AS INTEGER)]))) AS d2
         FROM embeddings e CROSS JOIN cb$k c),
       pcode$k AS MATERIALIZED (
         SELECT vec_id, s, j AS code FROM (
           SELECT vec_id, s, j,
                  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, j ASC) AS rn
           FROM pdist$k)
         WHERE rn = 1)"""
      if (k < iters) parts +=
        s"""pupd$k AS MATERIALIZED (
         SELECT pc.s, pc.code, tr.range AS dim,
                SUM(CAST(floor(CAST(e.embedding[CAST(pc.s * $dsub + tr.range + 1 AS INTEGER)]
                        AS DOUBLE) * 1048576) AS BIGINT)) AS sm,
                COUNT(*) AS n
         FROM pcode$k pc JOIN embeddings e USING (vec_id), range($dsub) tr
         GROUP BY pc.s, pc.code, tr.range),
       cb${k + 1} AS MATERIALIZED (
         SELECT c.s, c.j,
                CASE WHEN EXISTS (SELECT 1 FROM pupd$k u WHERE u.s = c.s AND u.code = c.j)
                     THEN (SELECT list(CAST(u2.sm AS DOUBLE) / (CAST(u2.n AS DOUBLE) * 1048576)
                                       ORDER BY u2.dim)
                           FROM pupd$k u2 WHERE u2.s = c.s AND u2.code = c.j)
                     ELSE c.cv END AS cv
         FROM cb$k c)"""
    }
    parts.result().mkString(",\n       ")
  }

  /** Query-side ADC lookup tables + ordered lookup-sum scoring over the
    * trained chain: defines `plut` (per (query, s, j) dot products) —
    * the score of a (query, neighbor) pair is the s-ORDERED list_sum of
    * lut values, matching AdcScore's fixed-subspace-order accumulation.
    */
  private def pqLutCte(m: Int, iters: Int): String = {
    val dsub = 64 / m
    s"""plut AS MATERIALIZED (
         SELECT q.vec_id AS query_id, c.s, c.j,
                list_sum(list_transform(range(1, $dsub + 1),
                  t -> CAST(q.embedding[CAST(c.s * $dsub + t AS INTEGER)] AS DOUBLE)
                       * c.cv[CAST(t AS INTEGER)])) AS lv
         FROM embeddings q CROSS JOIN cb$iters c WHERE q.vec_id < 10)"""
  }

  /** Exact-cosine re-rank of a `short(query_id, neighbor_id)` shortlist
    * to top-`k` — Pq.refine's SQL mirror.
    */
  private def pqRefineSql(k: Int): String =
    s"""pref AS (
         SELECT s.query_id, s.neighbor_id, ${cosSql("q.embedding", "n.embedding")} AS c
         FROM short s JOIN embeddings q ON q.vec_id = s.query_id
                      JOIN embeddings n ON n.vec_id = s.neighbor_id),
       pranked AS (
         SELECT query_id, neighbor_id, c,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY c DESC, neighbor_id) AS rank
         FROM pref)
       SELECT query_id, rank, neighbor_id, round(c, 6) AS score
       FROM pranked WHERE rank <= $k ORDER BY query_id, rank"""

  /** SQL replay of Pq.pqTopK(k=5, m=16, ksub=32, iters=3, shortlist=25):
    * flat ADC over every (query, corpus-code) pair, top-25 shortlist,
    * exact-cosine refine to 5.
    */
  private def pqTopkOracle(m: Int, ksub: Int, iters: Int, shortlist: Int,
                           k: Int): String =
    s"""WITH ${pqChainCtes(m, ksub, iters)},
       ${pqLutCte(m, iters)},
       adc AS (
         SELECT l.query_id, pc.vec_id AS neighbor_id,
                list_sum(list(l.lv ORDER BY l.s)) AS score
         FROM pcode$iters pc JOIN plut l ON l.s = pc.s AND l.j = pc.code
         WHERE l.query_id <> pc.vec_id
         GROUP BY l.query_id, pc.vec_id),
       short AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rn
           FROM adc)
         WHERE rn <= $shortlist),
       ${pqRefineSql(k)}"""

  /** SQL replay of Pq.ivfAdcTopK(k=5, nlist=16, nprobe=4, m=16, ksub=32,
    * iters=3, shortlist=25): md5-pivot IVF cells bound WHICH pairs are
    * ADC-scored (the equi-join on cell_id), then shortlist + refine as in
    * the flat path.
    */
  private def ivfAdcOracle(nlist: Int, nprobe: Int, m: Int, ksub: Int,
                           iters: Int, shortlist: Int, k: Int): String =
    s"""WITH ${pqChainCtes(m, ksub, iters)},
       ${pqLutCte(m, iters)},
       ivpiv AS MATERIALIZED (
         SELECT vec_id AS pivot_id, embedding AS pivot_vec FROM embeddings
         ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6)) AS BIGINT),
                  vec_id
         LIMIT $nlist),
       ivassign AS MATERIALIZED (
         SELECT vec_id, pivot_id AS cell_id FROM (
           SELECT e.vec_id, p.pivot_id,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ${cosSql("e.embedding", "p.pivot_vec")} DESC, p.pivot_id) AS rn
           FROM embeddings e CROSS JOIN ivpiv p)
         WHERE rn = 1),
       ivprobe AS (
         SELECT query_id, cell_id FROM (
           SELECT e.vec_id AS query_id, p.pivot_id AS cell_id,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ${cosSql("e.embedding", "p.pivot_vec")} DESC, p.pivot_id) AS rn
           FROM embeddings e CROSS JOIN ivpiv p WHERE e.vec_id < 10)
         WHERE rn <= $nprobe),
       adc AS (
         SELECT l.query_id, pc.vec_id AS neighbor_id,
                list_sum(list(l.lv ORDER BY l.s)) AS score
         FROM pcode$iters pc
         JOIN ivassign a ON a.vec_id = pc.vec_id
         JOIN ivprobe qp ON qp.cell_id = a.cell_id
         JOIN plut l ON l.query_id = qp.query_id AND l.s = pc.s AND l.j = pc.code
         WHERE qp.query_id <> pc.vec_id
         GROUP BY l.query_id, pc.vec_id),
       short AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rn
           FROM adc)
         WHERE rn <= $shortlist),
       ${pqRefineSql(k)}"""

  private def bpeTrainOracle(numMerges: Int): String = {
    val union = (0 until numMerges).map { k =>
      s"""SELECT $k AS "rank", l AS "left", r AS "right", pw AS pair_count FROM b$k"""
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeChainCtes(numMerges)}
       SELECT * FROM ($union) ORDER BY "rank""""
  }

  private def bpeEncodeOracle(numMerges: Int): String =
    s"""WITH ${bpeChainCtes(numMerges)},
       docw AS (
         SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
         FROM documents),
       docw2 AS (SELECT doc_id, word FROM docw WHERE length(word) > 0),
       enc AS (
         SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(len(s.syms)) AS BIGINT) AS n_subwords
         FROM docw2 d JOIN w$numMerges s USING (word) GROUP BY d.doc_id)
       SELECT doc_id, coalesce(e.n_words, CAST(0 AS BIGINT)) AS n_words,
              coalesce(e.n_subwords, CAST(0 AS BIGINT)) AS n_subwords
       FROM documents LEFT JOIN enc e USING (doc_id) ORDER BY doc_id"""

  // ---- unigram-LM (SentencePiece-style) oracle ---------------------------

  /** M-step scoring of a (piece, n) relation: Laplace-smoothed
    * fixed-point log-probs — `floor(ln((n+1)/(T+K)) · 2²⁰)` as BIGINT,
    * `UnigramLm.rescore`'s SQL mirror (integer inputs → one double ln →
    * floor at 2⁻²⁰, the PQ-codebook fixed-point discipline).
    */
  private def uniScoreSql(src: String): String =
    s"""SELECT piece, n,
          CAST(floor(ln(CAST(n + 1 AS DOUBLE) / CAST(t.t + t.k AS DOUBLE))
               * 1048576) AS BIGINT) AS score
        FROM $src, (SELECT CAST(sum(n) AS BIGINT) AS t, count(*) AS k FROM $src) t"""

  /** Weighted distinct-word table (words ≤ maxWordLen —
    * `UnigramLm.wordTable`) + every substring occurrence of length
    * 1..maxPieceLen, from a source relation exposing `text` — defines
    * `${p}words` and `${p}subs`. Shared by the training seed, every DP
    * round, and the pack chain's full-corpus encode.
    */
  private def uniWordCtes(p: String, src: String, maxPieceLen: Int,
                          maxWordLen: Int): String =
    s"""${p}words AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS w
      FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word FROM $src)
      WHERE length(word) > 0 AND length(word) <= $maxWordLen
      GROUP BY word),
    ${p}subs AS MATERIALIZED (
      SELECT word, s, e, substr(word, s, e - s + 1) AS sub FROM (
        SELECT word, CAST(ss.range AS INTEGER) AS s, CAST(ee.range AS INTEGER) AS e
        FROM ${p}words, range(1, ${maxWordLen + 1}) ss, range(1, ${maxWordLen + 1}) ee
        WHERE ss.range <= length(word) AND ee.range >= ss.range
          AND ee.range <= least(length(word), ss.range + $maxPieceLen - 1)))"""

  /** Seed CTEs of a unigram training chain: the word/substring tables
    * over `src`, weighted substring counts, and the seed vocabulary
    * (ALL single chars + top-`seedMulti` multi-char, ties count desc /
    * piece asc) scored with [[uniScoreSql]].
    */
  private def uniSeedCtes(maxPieceLen: Int, seedMulti: Int,
                          maxWordLen: Int,
                          src: String = "documents"): String =
    s"""${uniWordCtes("u", src, maxPieceLen, maxWordLen)},
    usubcnt AS MATERIALIZED (
      SELECT ws.sub AS piece, CAST(sum(w.w) AS BIGINT) AS n
      FROM usubs ws JOIN uwords w USING (word) GROUP BY ws.sub),
    useed AS (
      SELECT piece, n FROM usubcnt WHERE length(piece) = 1
      UNION ALL
      SELECT piece, n FROM (
        SELECT piece, n FROM usubcnt WHERE length(piece) >= 2
        ORDER BY n DESC, piece ASC LIMIT $seedMulti)),
    upieces0 AS MATERIALIZED (${uniScoreSql("useed")})"""

  /** One unrolled Viterbi DP over the `${p}words` table under `pieces`:
    * `maxWordLen` position stages, each an argmax (exact-integer score
    * desc, piece-count asc, start asc — `UnigramLm.segment`'s
    * tie-break) over matches ending at that position, the chosen path's
    * piece list carried along. Defines `$p${r}f(word, w, seg)` — the
    * Viterbi-best segmentation of every word.
    *
    * `unk = false` for training chains: they train over their own seed
    * chars, so coverage is total by construction. `unk = true` for an
    * encode chain over a DIFFERENT corpus (the pack oracle's full-corpus
    * pass under sample-trained pieces): single chars the training sample
    * never saw match at `UnigramLm.UnkScore`, exactly the Scala
    * fallback.
    */
  private def uniDpCtes(r: Int, maxWordLen: Int, p: String = "u",
                        piecesRel: String = "", unk: Boolean = false): String = {
    val pieces = if (piecesRel.nonEmpty) piecesRel else s"upieces$r"
    val parts = Seq.newBuilder[String]
    val unkSql = if (!unk) "" else s"""
      UNION ALL
      SELECT ws.word, ws.s, ws.e, CAST(${graft.operators.UnigramLm.UnkScore} AS BIGINT) AS mscore
      FROM ${p}subs ws
      WHERE ws.e = ws.s
        AND NOT EXISTS (SELECT 1 FROM $pieces pc WHERE pc.piece = ws.sub)"""
    parts += s"""$p${r}m AS MATERIALIZED (
      SELECT ws.word, ws.s, ws.e, pc.score AS mscore
      FROM ${p}subs ws JOIN $pieces pc ON pc.piece = ws.sub$unkSql)"""
    parts += s"""$p${r}a0 AS (
      SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS score, 0 AS np,
             CAST([] AS VARCHAR[]) AS seg
      FROM ${p}words)"""
    (1 to maxWordLen).foreach { k =>
      parts += s"""$p${r}b$k AS (
      SELECT word, pos, score, np, seg FROM (
        SELECT m.word, m.e AS pos, b.score + m.mscore AS score,
               b.np + 1 AS np,
               list_append(b.seg, substr(m.word, m.s, m.e - m.s + 1)) AS seg,
               row_number() OVER (PARTITION BY m.word
                 ORDER BY b.score + m.mscore DESC, b.np + 1 ASC, m.s ASC) AS rn
        FROM $p${r}m m JOIN $p${r}a${k - 1} b ON b.word = m.word AND b.pos = m.s - 1
        WHERE m.e = $k)
      WHERE rn = 1)"""
      parts += s"""$p${r}a$k AS MATERIALIZED (
      SELECT * FROM $p${r}a${k - 1} UNION ALL SELECT * FROM $p${r}b$k)"""
    }
    parts += s"""$p${r}f AS MATERIALIZED (
      SELECT a.word, w.w, a.seg FROM $p${r}a$maxWordLen a
      JOIN ${p}words w USING (word) WHERE a.pos = length(a.word))"""
    parts.result().mkString(",\n    ")
  }

  /** E-step count + prune + M-step rescore after DP round `r`: weighted
    * per-occurrence piece counts from the Viterbi segmentations, chars
    * always kept (count 0 if unused), multi-char pruned to `keepMulti`
    * (zero-count dropped, ties count desc / piece asc) — defines
    * `upieces${r+1}`.
    */
  private def uniRoundCtes(r: Int, keepMulti: Int): String =
    s"""ucnt$r AS MATERIALIZED (
      SELECT piece, CAST(sum(w) AS BIGINT) AS n FROM (
        SELECT w, unnest(seg) AS piece FROM u${r}f)
      GROUP BY piece),
    ukeep$r AS (
      SELECT p.piece, coalesce(c.n, CAST(0 AS BIGINT)) AS n
      FROM upieces$r p LEFT JOIN ucnt$r c USING (piece)
      WHERE length(p.piece) = 1
      UNION ALL
      SELECT piece, n FROM (
        SELECT piece, n FROM ucnt$r WHERE length(piece) >= 2 AND n > 0
        ORDER BY n DESC, piece ASC LIMIT $keepMulti)),
    upieces${r + 1} AS MATERIALIZED (${uniScoreSql(s"ukeep$r")})"""

  /** The full training chain: seed + `iters` (DP, count/prune/rescore)
    * rounds — mirrors `UnigramLm.train(maxPieceLen=6, seedMulti=50,
    * keepMulti=30, iters=2)` generation for generation.
    */
  private def uniChainCtes(maxPieceLen: Int, seedMulti: Int, keepMulti: Int,
                           iters: Int, maxWordLen: Int = 12,
                           src: String = "documents"): String = {
    val parts = Seq.newBuilder[String]
    parts += uniSeedCtes(maxPieceLen, seedMulti, maxWordLen, src)
    (0 until iters).foreach { r =>
      parts += uniDpCtes(r, maxWordLen)
      parts += uniRoundCtes(r, keepMulti)
    }
    parts.result().mkString(",\n    ")
  }

  /** SQL replay of `corpusUnigramPack`: train the unigram pieces on the
    * quarter sample (`doc_id % 4 = 0`), Viterbi-encode the FULL corpus
    * under the trained pieces (the `v` DP chain, UNK fallback live —
    * the sample-trained tokenizer must encode chars it never saw),
    * derive token ids as sorted-piece order (`UnigramLm.encodeIds`
    * vocabulary; ASCII fixture), then the `CorpusOps.packTokens` replay
    * verbatim from the BPE pack oracle: md5-hash docs into `blocks`
    * streams, per-stream prefix positions in doc-id order, cut every
    * `blockSize` tokens, digest each block's id stream.
    */
  private def unigramPackOracle(maxPieceLen: Int, seedMulti: Int,
                                keepMulti: Int, iters: Int,
                                blockSize: Int, blocks: Int): String =
    s"""WITH ${uniChainCtes(maxPieceLen, seedMulti, keepMulti, iters,
        src = "(SELECT text FROM documents WHERE doc_id % 4 = 0)")},
       ${uniWordCtes("v", "documents", maxPieceLen, 12)},
       ${uniDpCtes(iters, 12, p = "v", piecesRel = s"upieces$iters", unk = true)},
       vocab AS MATERIALIZED (
         SELECT p, CAST(row_number() OVER (ORDER BY p) - 1 AS BIGINT) AS tid
         FROM (SELECT DISTINCT unnest(seg) AS p FROM v${iters}f)),
       docw0 AS (
         SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
                  i -> {'wp': i, 'word': ws[CAST(i AS INTEGER)]})) AS u
         FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents)),
       docw AS (
         SELECT doc_id, u.wp AS wp, u.word AS word FROM docw0
         WHERE length(u.word) > 0),
       subs0 AS (
         SELECT d.doc_id, d.wp, unnest(list_transform(range(1, len(v.seg) + 1),
                  i -> {'sp': i, 'sym': v.seg[CAST(i AS INTEGER)]})) AS u
         FROM docw d JOIN v${iters}f v USING (word)),
       subs AS (
         SELECT s0.doc_id, s0.wp, u.sp AS sp, vc.tid AS tid
         FROM subs0 s0 JOIN vocab vc ON vc.p = u.sym),
       dstream AS MATERIALIZED (
         SELECT doc_id, list(tid ORDER BY wp, sp) AS ids
         FROM subs GROUP BY doc_id),
       dmeta AS (
         SELECT d.doc_id,
                CAST(('0x' || substr(md5('b:' || CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                  % $blocks AS block,
                coalesce(len(s.ids), 0) AS n
         FROM documents d LEFT JOIN dstream s USING (doc_id)),
       doffs AS (
         SELECT doc_id, block,
                CAST(sum(n) OVER (PARTITION BY block ORDER BY doc_id) - n AS BIGINT)
                  AS stream_start
         FROM dmeta),
       tok0 AS (
         SELECT o.block, o.stream_start, unnest(list_transform(range(1, len(s.ids) + 1),
                  i -> {'i': i, 'tok': s.ids[CAST(i AS INTEGER)]})) AS u
         FROM doffs o JOIN dstream s USING (doc_id)),
       tok AS (
         SELECT block, stream_start + u.i - 1 AS pos, u.tok AS tok FROM tok0)
       SELECT block, CAST(pos // $blockSize AS BIGINT) AS bin_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              md5(array_to_string(list(CAST(tok AS VARCHAR) ORDER BY pos), ',')) AS token_digest
       FROM tok GROUP BY block, bin_id
       ORDER BY block, bin_id"""

  private def unigramTrainOracle(maxPieceLen: Int, seedMulti: Int,
                                 keepMulti: Int, iters: Int): String =
    s"""WITH ${uniChainCtes(maxPieceLen, seedMulti, keepMulti, iters)}
       SELECT piece, n, score FROM upieces$iters ORDER BY piece"""

  /** Encode oracle: one more DP round under the FINAL pieces, then
    * per-doc word join — `UnigramLm.encode`'s (n_words, n_pieces). The
    * LEFT-join/coalesce keeps empty docs at (0, 0) like the map-only
    * Scala pass. Exact only while every document word is ≤ MaxWordLen
    * (no char-fallback rows) — UnigramLmSpec's fixture guard pins that.
    */
  private def unigramEncodeOracle(maxPieceLen: Int, seedMulti: Int,
                                  keepMulti: Int, iters: Int): String =
    s"""WITH ${uniChainCtes(maxPieceLen, seedMulti, keepMulti, iters)},
       ${uniDpCtes(iters, 12)},
       udocw AS (
         SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
         FROM documents),
       uenc AS (
         SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(len(f.seg)) AS BIGINT) AS n_pieces
         FROM udocw d JOIN u${iters}f f USING (word)
         WHERE length(d.word) > 0 GROUP BY d.doc_id)
       SELECT doc_id, coalesce(e.n_words, CAST(0 AS BIGINT)) AS n_words,
              coalesce(e.n_pieces, CAST(0 AS BIGINT)) AS n_pieces
       FROM documents LEFT JOIN uenc e USING (doc_id) ORDER BY doc_id"""

  /** SQL replay of `corpusTokenizePack`: train `numMerges` merges on the
    * quarter sample (`doc_id % 4 = 0` — the w/b training chain), apply
    * them rank-ordered to the FULL corpus vocabulary (the v rewrite-only
    * chain — the sample-trained tokenizer must encode words it never
    * saw), derive token ids as sorted-final-symbol order (`Bpe.encodeIds`
    * vocabulary; fixture text is ASCII so DuckDB's binary collation and
    * Scala's UTF-16 sort agree), then replay `CorpusOps.packTokens`:
    * md5-hash docs into 8 streams, per-stream token prefix positions in
    * doc-id order, cut every 512 tokens, digest each block's id stream.
    */
  private def tokenizePackOracle(numMerges: Int, blockSize: Int,
                                 blocks: Int): String =
    s"""WITH ${bpeChainCtes(numMerges, "(SELECT text FROM documents WHERE doc_id % 4 = 0)")},
       ${bpeW0("v0", "documents")},
       ${(0 until numMerges).map(k => bpeRewriteCtes("v", k)).mkString(",\n       ")},
       vocab AS MATERIALIZED (
         SELECT s, CAST(row_number() OVER (ORDER BY s) - 1 AS BIGINT) AS tid
         FROM (SELECT DISTINCT unnest(syms) AS s FROM v$numMerges)),
       docw0 AS (
         SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
                  i -> {'wp': i, 'word': ws[CAST(i AS INTEGER)]})) AS u
         FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents)),
       docw AS (
         SELECT doc_id, u.wp AS wp, u.word AS word FROM docw0
         WHERE length(u.word) > 0),
       subs0 AS (
         SELECT d.doc_id, d.wp, unnest(list_transform(range(1, len(v.syms) + 1),
                  i -> {'sp': i, 'sym': v.syms[CAST(i AS INTEGER)]})) AS u
         FROM docw d JOIN v$numMerges v USING (word)),
       subs AS (
         SELECT s0.doc_id, s0.wp, u.sp AS sp, vc.tid AS tid
         FROM subs0 s0 JOIN vocab vc ON vc.s = u.sym),
       dstream AS MATERIALIZED (
         SELECT doc_id, list(tid ORDER BY wp, sp) AS ids
         FROM subs GROUP BY doc_id),
       dmeta AS (
         SELECT d.doc_id,
                CAST(('0x' || substr(md5('b:' || CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                  % $blocks AS block,
                coalesce(len(s.ids), 0) AS n
         FROM documents d LEFT JOIN dstream s USING (doc_id)),
       doffs AS (
         SELECT doc_id, block,
                CAST(sum(n) OVER (PARTITION BY block ORDER BY doc_id) - n AS BIGINT)
                  AS stream_start
         FROM dmeta),
       tok0 AS (
         SELECT o.block, o.stream_start, unnest(list_transform(range(1, len(s.ids) + 1),
                  i -> {'i': i, 'tok': s.ids[CAST(i AS INTEGER)]})) AS u
         FROM doffs o JOIN dstream s USING (doc_id)),
       tok AS (
         SELECT block, stream_start + u.i - 1 AS pos, u.tok AS tok FROM tok0)
       SELECT block, CAST(pos // $blockSize AS BIGINT) AS bin_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              md5(array_to_string(list(CAST(tok AS VARCHAR) ORDER BY pos), ',')) AS token_digest
       FROM tok GROUP BY block, bin_id
       ORDER BY block, bin_id"""

  /** BM25 top-10 oracle — shared by retrieval_bm25 and the hybrid
    * RRF fusion (no-fork rule). Parameterized over the corpus source so
    * the retraction-GATED build (anti-join the takedown table, then
    * build) shares the identical scoring chain.
    */
  private lazy val bm25TopkSql: String = bm25TopkSqlOver("documents")

  private def bm25TopkSqlOver(src: String): String =
    s"""WITH q(query_id, term) AS (VALUES
             (0, 'hash'), (0, 'join'), (0, 'merge'),
             (1, 'stream'), (1, 'window'), (1, 'batch'),
             (2, 'vector'), (2, 'scan'), (2, 'filter'), (2, 'sort')),
         toks AS (
           SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
           FROM $src),
         post AS (
           SELECT doc_id, token, count(*) AS tf FROM toks
           WHERE token <> '' GROUP BY doc_id, token),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY doc_id),
         stats AS (
           SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
           FROM dl),
         dfreq AS (SELECT token, count(*) AS df FROM post GROUP BY token),
         scored AS (
           SELECT q.query_id, p.doc_id,
                  sum(CAST(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                           * (p.tf * 2.2)
                           / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
                      AS DECIMAL(38, 12))) AS sd
           FROM post p JOIN q ON p.token = q.term
           JOIN dl d ON d.doc_id = p.doc_id
           JOIN dfreq f ON f.token = p.token
           CROSS JOIN stats s
           GROUP BY q.query_id, p.doc_id),
         ranked AS (
           SELECT query_id, doc_id, CAST(sd AS DOUBLE) AS score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY CAST(sd AS DOUBLE) DESC, doc_id) AS rank
           FROM scored)
       SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
              round(score, 6) AS score
       FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Signed-feature-hashing CTE chain (mirrors `Similarity.hashEmbed`):
    * defines `tk` (per-doc nonempty tokens), `vec` (doc_id, normalized
    * double list) and `hvec` (doc_id, the FLOAT-cast vector — the exact
    * array<float> the Spark side emits). Shared by text_hash_embed and
    * every oracle composing over hashed embeddings (no-fork rule).
    */
  private def hashEmbedCtes(dim: Int, salt: String,
                            src: String = "documents"): String =
    s"""htoks AS (
           SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
           FROM $src),
         tk AS (SELECT doc_id, token FROM htoks WHERE token <> ''),
         hcells AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5('he:$salt:' || token), 1, 6)) AS BIGINT) % $dim
                    AS bucket,
                  sum(CASE WHEN CAST(('0x' || substr(md5('hs:$salt:' || token), 1, 1))
                             AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END) AS w
           FROM tk GROUP BY doc_id, bucket),
         hgrid AS (
           SELECT d.doc_id, CAST(r.range AS BIGINT) AS i
           FROM (SELECT DISTINCT doc_id FROM hcells) d, range($dim) r),
         hdvec AS (
           SELECT g.doc_id, g.i, CAST(coalesce(c.w, 0) AS DOUBLE) AS x
           FROM hgrid g LEFT JOIN hcells c ON c.doc_id = g.doc_id AND c.bucket = g.i),
         hdense AS (
           SELECT doc_id, list(x ORDER BY i) AS raw FROM hdvec GROUP BY doc_id),
         hnormed AS (
           SELECT doc_id, raw,
                  sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
           FROM hdense),
         vec AS (
           SELECT doc_id, list_transform(raw, x -> x / nrm) AS v
           FROM hnormed WHERE nrm > 0.0),
         hvec AS (
           SELECT doc_id, list_transform(v, x -> CAST(x AS FLOAT)) AS fv FROM vec)"""

  /** text_topics oracle: the hashed-embedding chain, the kmeans chain
    * retargeted at it (src param), final assignment against the trained
    * centroids, and within-cluster token document frequencies.
    */
  private lazy val textTopicsSql: String =
    s"""WITH ${hashEmbedCtes(32, "r7")},
       hv AS MATERIALIZED (SELECT doc_id AS vec_id, fv AS embedding FROM hvec),
       ${kmChainCtes(4, 2, materialize = true, src = "hv")},
       ${kmAssignSql(3, "cent2", mat = true, src = "hv")},
       ttk AS (SELECT DISTINCT doc_id, token FROM tk),
       tcnt AS (
         SELECT a.cell_id, t.token, CAST(count(*) AS BIGINT) AS df
         FROM ttk t JOIN assign3 a ON a.vec_id = t.doc_id
         GROUP BY a.cell_id, t.token),
       tranked AS (
         SELECT cell_id, token, df,
                row_number() OVER (PARTITION BY cell_id
                                   ORDER BY df DESC, token) AS rank
         FROM tcnt)
       SELECT cell_id, rank, token, df FROM tranked
       WHERE rank <= 5 ORDER BY cell_id, rank"""

  // shared dHash oracle fragments (no-fork rule: mm_dedup and
  // mm_dedup_video replay identical signature/banding/verify arithmetic
  // over different closed-form grids). Expects a CTE `sigs(id, cells,
  // bits)`; bits come from [[dhashBitsExpr]] over a 72-cell grid.
  private val dhashBitsExpr =
    """list_transform(range(0, 64), k ->
         CASE WHEN cells[CAST((k // 8) * 9 + (k % 8) + 2 AS INTEGER)]
                 > cells[CAST((k // 8) * 9 + (k % 8) + 1 AS INTEGER)]
              THEN 1 ELSE 0 END)"""

  /** The closed-form image signature chain shared by mm_dedup,
    * mm_dedup_eval and mm_dedup_reps (no-fork rule): BMP geometry from
    * (text, id), the 9×8 display-order luma grid, dHash bits, and the
    * original ∪ +1e6-copy id union (the 2× NN upscale grids identically
    * — floor-composition identity — so the copy instantiates the same
    * grid under the offset id). `extraFilter` bounds the doc slice.
    */
  private def imageSigCtes(extraFilter: String): String =
    s"""base AS (SELECT doc_id, text, length(text) AS n FROM documents
                       WHERE doc_id % 2 = 0$extraFilter),
         bmp AS (SELECT doc_id, 4 + n % 29 AS w,
                        CAST(4 + doc_id % 13 AS INTEGER) AS h, n, text
                 FROM base),
         grids AS (
           SELECT doc_id,
                  list_transform(range(0, 72), g ->
                    299 * ascii(substr(text,
                      CAST(((h - 1 - ((g // 9) * h // 8)) * (w * 3)
                            + ((g % 9) * w // 9) * 3 + 2) % n AS INTEGER) + 1, 1))
                  + 587 * ascii(substr(text,
                      CAST(((h - 1 - ((g // 9) * h // 8)) * (w * 3)
                            + ((g % 9) * w // 9) * 3 + 1) % n AS INTEGER) + 1, 1))
                  + 114 * ascii(substr(text,
                      CAST(((h - 1 - ((g // 9) * h // 8)) * (w * 3)
                            + ((g % 9) * w // 9) * 3) % n AS INTEGER) + 1, 1))
                  ) AS cells
           FROM bmp),
         sigs0 AS (
           SELECT doc_id, cells, $dhashBitsExpr AS bits
           FROM grids),
         sigs AS (
           SELECT doc_id AS id, cells, bits FROM sigs0
           UNION ALL
           SELECT doc_id + 1000000 AS id, cells, bits FROM sigs0)"""

  private val dhashPairsSqlTail =
    """blocked0 AS (
         SELECT id, cells, bits,
                CAST(blk AS VARCHAR) || ':' || CAST(
                  list_sum(list_transform(range(0, 16), i ->
                    bits[CAST(blk * 16 + i + 1 AS INTEGER)]
                      * CAST(2 ** i AS BIGINT))) AS VARCHAR) AS block_key
         FROM sigs, (SELECT unnest(range(0, 4)) AS blk)),
       hot AS (SELECT block_key FROM blocked0
               GROUP BY block_key HAVING count(*) > 1000),
       blocked AS (SELECT * FROM blocked0
                   WHERE block_key NOT IN (SELECT block_key FROM hot)),
       cand AS (
         SELECT DISTINCT x.id AS id_a, y.id AS id_b,
                x.bits AS bits_a, y.bits AS bits_b,
                x.cells AS cells_a, y.cells AS cells_b
         FROM blocked x JOIN blocked y ON x.block_key = y.block_key
         WHERE x.id < y.id),
       verified AS (
         SELECT id_a, id_b,
                CAST(len(list_filter(range(0, 64), k ->
                  bits_a[CAST(k + 1 AS INTEGER)]
                    <> bits_b[CAST(k + 1 AS INTEGER)])) AS BIGINT) AS hamming,
                list_sum(list_transform(range(0, 72), i ->
                  abs(cells_a[CAST(i + 1 AS INTEGER)]
                      - cells_b[CAST(i + 1 AS INTEGER)]))) / 72.0 AS l1
         FROM cand)
       SELECT id_a, id_b, hamming, round(l1, 6) AS grid_l1
       FROM verified
       WHERE hamming <= 3 AND l1 <= 12750.0
       ORDER BY id_a, id_b"""

  /** The serve-side chunker replay shared by the retrieval-pipeline
    * build and serve oracles (no-fork rule): 32-token/32-stride chunks,
    * ids packed doc·2^20 + idx, empties dropped.
    */
  private val retrieveChunkCtes =
    """rt AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w,
                  CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n
           FROM documents),
         rc AS (
           SELECT doc_id, w,
                  unnest(range(0, CASE WHEN n <= 32 THEN 1
                         ELSE CAST(ceil(CAST(n - 32 AS DOUBLE) / 32) AS BIGINT) + 1 END))
                    AS chunk_idx
           FROM rt),
         rchunks AS MATERIALIZED (
           SELECT * FROM (
             SELECT doc_id * 1048576 + chunk_idx AS chunk_id,
                    array_to_string(list_slice(w, CAST(chunk_idx * 32 + 1 AS INTEGER),
                                                  CAST(chunk_idx * 32 + 32 AS INTEGER)), ' ')
                      AS chunk_text
             FROM rc)
           WHERE chunk_text <> '')"""

  /** The store-health datasheet ([[graft.operators.StoreHealth]], r14
    * verdict #4) over four lanes built IN-QUERY from literal batches —
    * deliberately sf-independent: the readout is protocol facts (ingest
    * counts, layouts, pinned moduli, gate id counts), not data volume,
    * so the oracle is the expected datasheet as a VALUES literal. A span
    * store folded once with a fresh flat tail, a graph store with its
    * chain un-folded (one merge visible as remap_depth), a decontam gate
    * store folded to its bucketed id base, and a lane whose store does
    * not exist yet (the dashboard shows it, never crashes). Lease
    * columns are null by construction here (every operator releases) —
    * the wall-clock-dependent faces (live holder, `__lease_risk`) are
    * spec-pinned instead (StoreHealthSpec).
    */
  def storeHealth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_q_health").toString
    // the three lanes build DISJOINT stores (span/, graph/, gate/) —
    // within each lane the protocol order is load-bearing (appends gate
    // on prior commits), across lanes nothing is shared, so the lanes
    // overlap (guide §2.6); the datasheet scan runs after the barrier
    val span = s"$base/span"
    val spanLeg = graft.Par.run {
      graft.operators.SpanStore.append(s, span,
        Seq((1L, "a1 a2 a3 a4 a5 a6 a7 a8")).toDF("doc_id", "text"),
        "text", "doc_id", k = 8, lsmBuckets = 16)
      graft.operators.SpanStore.append(s, span,
        Seq((2L, "b1 b2 b3 b4 b5 b6 b7 b8")).toDF("doc_id", "text"),
        "text", "doc_id", k = 8)
      graft.operators.SpanStore.compact(s, span)
      graft.operators.SpanStore.append(s, span,
        Seq((3L, "c1 c2 c3 c4 c5 c6 c7 c8")).toDF("doc_id", "text"),
        "text", "doc_id", k = 8)
    }
    val graph = s"$base/graph"
    val graphLeg = graft.Par.run {
      graft.operators.GraphStore.append(s, graph,
        Seq((1L, 2L), (10L, 11L)).toDF("a", "b"), lsmBuckets = 32)
      graft.operators.GraphStore.append(s, graph,
        Seq((2L, 10L)).toDF("a", "b"))
    }
    val gate = s"$base/gate"
    val gateLeg = graft.Par.run {
      val root = new org.apache.hadoop.fs.Path(gate)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
        .write.parquet(s"$gate/docs/ingest=0_aa")
      Seq((3L, "z")).toDF("doc_id", "text")
        .write.parquet(s"$gate/docs/ingest=1_bb")
      Seq("0_aa", "1_bb").foreach(
        graft.operators.StoreProtocol.commit(fs, root, _))
      graft.streaming.IncrementalStream.compactDecontamCorpus(s, gate)
    }
    graft.Par.awaitAll(spanLeg, graphLeg, gateLeg)
    graft.operators.StoreHealth.scan(s, Seq(
        ("span", span), ("graph", graph), ("gate", gate),
        ("pending", s"$base/pending")))
      .orderBy("store")
  }

  private val oraclesBase: Map[String, String] = Map(
    // store_health: the datasheet is fully determined by the literal
    // build flow above — counts of ingests and layouts, the pinned
    // moduli, the exact gate id count; nothing wall-clock-dependent
    "store_health" ->
      """SELECT * FROM (VALUES
           ('gate',    1, 1, 0, 1, 0, 0, 4096,
            CAST(3 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
           ('graph',   2, 2, 2, 0, 1, 0, 32,
            CAST(NULL AS BIGINT), NULL, NULL),
           ('pending', 0, 0, 0, 0, 0, 0, CAST(NULL AS INTEGER),
            CAST(NULL AS BIGINT), NULL, NULL),
           ('span',    2, 2, 1, 1, 0, 0, 16,
            CAST(NULL AS BIGINT), NULL, NULL)
         ) AS t(store, committed_ingests, visible_ingests, flat_tail,
                base_generations, remap_depth, pending_supersedes,
                lsm_buckets, committed_ids, lease_holder, lease_risk_holder)
         ORDER BY store""",
    // the build's per-stage row counts, each independently derivable:
    // the chunker replay, the postings aggregate over it, and the
    // hashEmbed chain's row count (hashEmbed emits no row for token-less
    // or sign-cancelled inputs, so the vector count is ITS count, not
    // the chunk count)
    "retrieval_pipeline_build" ->
      s"""WITH $retrieveChunkCtes,
         rpost AS (
           SELECT chunk_id, token, count(*) AS tf FROM (
             SELECT chunk_id, unnest(string_split(chunk_text, ' ')) AS token
             FROM rchunks)
           WHERE token <> '' GROUP BY chunk_id, token),
         ${hashEmbedCtes(32, "rq",
            "(SELECT chunk_id AS doc_id, chunk_text AS text FROM rchunks)")}
         SELECT stage, n_rows FROM (
           SELECT 'chunks' AS stage, CAST(count(*) AS BIGINT) AS n_rows
           FROM rchunks
           UNION ALL
           SELECT 'bm25_postings', CAST(count(*) AS BIGINT) FROM rpost
           UNION ALL
           SELECT 'ann_vectors', CAST(count(*) AS BIGINT) FROM hvec)
         ORDER BY stage""",
    "corpus_bpe" -> bpeTrainOracle(16),
    "corpus_bpe_persisted" -> bpeTrainOracle(16),
    "corpus_bpe_encode" -> bpeEncodeOracle(8),
    "corpus_unigram_lm" -> unigramTrainOracle(6, 50, 30, 2),
    "corpus_unigram_encode" -> unigramEncodeOracle(6, 50, 30, 2),
    "corpus_unigram_pack" -> unigramPackOracle(6, 50, 30, 2, blockSize = 512, blocks = 8),
    // composes the BPE (w8) and unigram (u2f) encode chains over one
    // shared tokenized stream; fertility = pieces per word per family
    "corpus_tokenizer_eval" ->
      s"""WITH ${bpeChainCtes(8)},
         ${uniChainCtes(6, 50, 30, 2)},
         ${uniDpCtes(2, 12)},
         tdocw AS (
           SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
           FROM documents),
         tdocw2 AS (SELECT doc_id, word FROM tdocw WHERE length(word) > 0),
         bstat AS (
           SELECT CAST(count(*) AS BIGINT) AS n_words,
                  CAST(sum(len(s.syms)) AS BIGINT) AS n_pieces
           FROM tdocw2 d JOIN w8 s USING (word)),
         ustat AS (
           SELECT CAST(count(*) AS BIGINT) AS n_words,
                  CAST(sum(len(f.seg)) AS BIGINT) AS n_pieces
           FROM tdocw2 d JOIN u2f f USING (word)),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         SELECT 'bpe' AS tokenizer, nd.n_docs AS n_docs, b.n_words AS n_words,
                b.n_pieces AS n_pieces,
                round(CAST(b.n_pieces AS DOUBLE) / CAST(b.n_words AS DOUBLE), 6)
                  AS fertility
         FROM bstat b, nd
         UNION ALL
         SELECT 'unigram', nd.n_docs, u.n_words, u.n_pieces,
                round(CAST(u.n_pieces AS DOUBLE) / CAST(u.n_words AS DOUBLE), 6)
         FROM ustat u, nd
         ORDER BY tokenizer""",
    // SQL replay of AnnIndex.buildIvf(corpus slice) + screenIvf(batch):
    // the sim_topk_ivf_kmeans centroid chain trained over icorp, the
    // persisted float round-trip (centf), frozen-centroid routing of the
    // corpus AND the batch probes, then exact cosine over probed cells
    "dedup_embedding_incremental" ->
      s"""WITH icorp AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
          ${kmChainCtes(8, 5, materialize = true, src = "icorp")},
          centf AS MATERIALIZED (
            SELECT c, list_transform(cv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cvf
            FROM cent5),
          iassign AS MATERIALIZED (
            SELECT vec_id, embedding, c AS cell_id FROM (
              SELECT e.vec_id, e.embedding, s.c,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "s.cvf")} DESC, s.c) AS rn
              FROM icorp e CROSS JOIN centf s)
            WHERE rn = 1),
          iprobe AS (
            SELECT vec_id AS id_a, embedding AS q_vec, c AS cell_id FROM (
              SELECT e.vec_id, e.embedding, s.c,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "s.cvf")} DESC, s.c) AS rn
              FROM embeddings e CROSS JOIN centf s WHERE e.vec_id % 5 = 0)
            WHERE rn <= 2)
          SELECT p.id_a, a.vec_id AS id_b,
                 round(${cosSql("p.q_vec", "a.embedding")}, 6) AS cosine
          FROM iprobe p JOIN iassign a USING (cell_id)
          WHERE ${cosSql("p.q_vec", "a.embedding")} >= 0.35
          ORDER BY id_a, id_b""",
    "corpus_tokenize_pack" -> tokenizePackOracle(8, blockSize = 512, blocks = 8),
    // SQL replay of Dsir.select(buckets=1024, k=150, salt="dsir",
    // temperature=1): hashed-bigram bucket counts, Laplace log-ratio
    // table, decimal-funneled per-doc weights, Gumbel top-k from the
    // portable md5 uniform.
    "corpus_dsir" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(trim(text)), ' '),
                    x -> length(x) > 0) AS w
           FROM documents),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(w)),
                    i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1])) AS bg
           FROM toks WHERE len(w) >= 2),
         db AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5('d:' || bg), 1, 6)) AS BIGINT) % 1024 AS bucket,
                  count(*) AS n
           FROM bg GROUP BY doc_id, bucket),
         rawc AS (SELECT bucket, sum(n) AS c FROM db GROUP BY bucket),
         tgtc AS (
           SELECT bucket, sum(n) AS c FROM db JOIN documents USING (doc_id)
           WHERE lang = 'en' GROUP BY bucket),
         llr AS (
           SELECT coalesce(r.bucket, t.bucket) AS bucket,
                  ln((coalesce(t.c, 0) + 1.0) / ((SELECT sum(c) FROM tgtc) + 1024.0))
                  - ln((coalesce(r.c, 0) + 1.0) / ((SELECT sum(c) FROM rawc) + 1024.0)) AS llr
           FROM rawc r FULL JOIN tgtc t ON t.bucket = r.bucket),
         lw AS (
           SELECT db.doc_id,
                  CAST(sum(CAST(llr * n AS DECIMAL(38, 12))) AS DOUBLE) AS log_weight
           FROM db JOIN llr USING (bucket) GROUP BY db.doc_id),
         keyed AS (
           SELECT d.doc_id, coalesce(lw.log_weight, 0.0) AS log_weight,
                  coalesce(lw.log_weight, 0.0)
                  - ln(-ln(greatest(
                      CAST(('0x' || substr(md5('s:dsir:' || CAST(d.doc_id AS VARCHAR)), 1, 6))
                        AS BIGINT) / 16777216.0,
                      1.0 / 33554432.0))) AS gk
           FROM documents d LEFT JOIN lw USING (doc_id)),
         sel AS (SELECT doc_id, log_weight FROM keyed ORDER BY gk DESC, doc_id LIMIT 150)
         SELECT doc_id, round(log_weight, 6) AS log_weight FROM sel ORDER BY doc_id""",
    // SQL replay of NaiveBayes.train(quarter sample, lang, 512) ∘
    // classify(full corpus): complete smoothed (label, bucket) grid,
    // decimal-funneled joint log-probabilities, argmax on rounded score
    // with label-rank ties.
    "text_naive_bayes" ->
      """WITH tr AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 4 = 0),
         toks AS (
           SELECT doc_id, unnest(list_filter(string_split(lower(trim(text)), ' '),
                    x -> length(x) > 0)) AS tok
           FROM documents),
         tb AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5('nb:' || tok), 1, 6)) AS BIGINT) % 512 AS bucket,
                  count(*) AS n
           FROM toks GROUP BY doc_id, bucket),
         joint AS (
           SELECT tr.lang AS label, tb.bucket, sum(tb.n) AS c
           FROM tb JOIN tr USING (doc_id) GROUP BY tr.lang, tb.bucket),
         ltot AS (SELECT label, sum(c) AS labelN FROM joint GROUP BY label),
         priors AS (SELECT lang AS label, count(*) AS docs FROM tr GROUP BY lang),
         ranked AS (
           SELECT label, docs,
                  CAST(row_number() OVER (ORDER BY label) AS BIGINT) AS label_rank,
                  ln(CAST(docs AS DOUBLE) / (SELECT count(*) FROM tr)) AS log_prior
           FROM priors),
         grid AS (
           SELECT r.label, r.label_rank, r.log_prior, b.range AS bucket
           FROM ranked r, range(512) b),
         model AS (
           -- LEFT JOIN + zero fill mirrors NaiveBayes.train's left-join of
           -- labelTotals: a label whose sampled training docs are all
           -- tokenless keeps a pure-smoothing slice (ln(1/512)) instead of
           -- silently vanishing from the grid
           SELECT g.label, g.label_rank, g.log_prior, g.bucket,
                  ln((coalesce(j.c, 0) + 1.0)
                     / (coalesce(lt.labelN, 0) + 512.0)) AS log_lik
           FROM grid g
           LEFT JOIN joint j ON j.label = g.label AND j.bucket = g.bucket
           LEFT JOIN ltot lt ON lt.label = g.label),
         scores AS (
           SELECT tb.doc_id, m.label, m.label_rank,
                  m.log_prior + CAST(sum(CAST(m.log_lik * tb.n AS DECIMAL(38, 12)))
                    AS DOUBLE) AS score
           FROM tb JOIN model m USING (bucket)
           GROUP BY tb.doc_id, m.label, m.label_rank, m.log_prior),
         allsc AS (
           SELECT * FROM scores
           UNION ALL
           SELECT d.doc_id, r.label, r.label_rank, r.log_prior AS score
           FROM documents d CROSS JOIN ranked r
           WHERE d.doc_id NOT IN (SELECT DISTINCT doc_id FROM scores)),
         best AS (
           SELECT doc_id, label, score,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY round(score, 9) DESC, label_rank ASC) AS rn
           FROM allsc)
         SELECT doc_id, label AS pred_label, round(round(score, 9), 6) AS score
         FROM best WHERE rn = 1 ORDER BY doc_id""",
    // SQL replay of Cdc.tableDiff over the two deterministic snapshot
    // views: md5(concat_ws(chr(31), …)) content hashes, full outer join.
    "warehouse_profile" ->
      profileOracle("documents", Seq("doc_id", "text", "lang", "source", "n_chars")),
    "emb_pca" -> pcaOracle(dim = 64, iters = 6),
    // k-anonymity: one grouped count, strict < k
    "privacy_k_anon" ->
      """SELECT lang, source, count(*) AS n
         FROM documents GROUP BY lang, source
         HAVING count(*) < 5 ORDER BY lang, source""",
    // l-diversity: distinct sensitive values per quasi-group, strict < l
    "privacy_l_div" ->
      """SELECT source, count(*) AS n,
                count(DISTINCT lang) AS n_sensitive
         FROM documents GROUP BY source
         HAVING count(DISTINCT lang) < 5 ORDER BY source""",
    // t-closeness: per-group sensitive distribution vs global, TVD via
    // the folded absent-mass identity 0.5*(1 + sum_present(|p-q| - q));
    // every association and cast mirrors the Spark side, the cross-row
    // sum rides the qsum grid
    "privacy_t_close" ->
      """WITH gv AS (SELECT source, lang, count(*) AS n_vs
                     FROM documents GROUP BY source, lang),
          gn AS (SELECT source, lang, n_vs,
                        CAST(sum(n_vs) OVER (PARTITION BY source) AS BIGINT) AS n
                 FROM gv),
          q AS (SELECT lang, CAST(count(*) AS DOUBLE)
                             / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS qv
                FROM documents GROUP BY lang),
          d AS (SELECT gn.source, gn.n,
                       abs(CAST(gn.n_vs AS DOUBLE) / CAST(gn.n AS DOUBLE) - q.qv) - q.qv AS term
                FROM gn JOIN q USING (lang)),
          tv AS (SELECT source, max(n) AS n,
                        0.5 * (1.0 + CAST(sum(CAST(floor(least(greatest(term, -1.0e6), 1.0e6)
                            * 1.0e12) AS DECIMAL(38,0))) AS DOUBLE) / 1.0e12) AS tvd
                 FROM d GROUP BY source)
         SELECT source, n, round(tvd, 6) AS tvd
         FROM tv WHERE tvd > 0.15 ORDER BY source""",
    "emb_pca2" -> pca2Oracle(dim = 64, iters = 6),
    // TVD drift: integer counts, two double divisions, abs — the window
    // totals are over |langs| rows; association mirrors the Spark side
    "warehouse_drift" ->
      """WITH a AS (SELECT lang, count(*) AS n_a FROM documents
                    WHERE doc_id % 2 = 0 GROUP BY lang),
          b AS (SELECT lang, count(*) AS n_b FROM documents
                WHERE doc_id % 2 <> 0 GROUP BY lang),
          j AS (SELECT coalesce(a.lang, b.lang) AS lang,
                       coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
                FROM a FULL OUTER JOIN b ON a.lang = b.lang),
          p AS (SELECT lang, n_a, n_b,
                       CAST(n_a AS DOUBLE) / CAST(sum(n_a) OVER () AS DOUBLE) AS p_a,
                       CAST(n_b AS DOUBLE) / CAST(sum(n_b) OVER () AS DOUBLE) AS p_b
                FROM j)
         SELECT lang, n_a, n_b, round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
                round(abs(p_a - p_b), 6) AS abs_diff
         FROM p ORDER BY lang""",
    "warehouse_diff" ->
      """WITH oldd AS (
           SELECT doc_id,
                  md5(concat_ws(chr(31),
                    coalesce(CAST(text AS VARCHAR), '<null>'),
                    coalesce(lang, '<null>'),
                    coalesce(source, '<null>'))) AS old_hash
           FROM documents WHERE doc_id % 7 <> 0),
         newd AS (
           SELECT doc_id,
                  md5(concat_ws(chr(31),
                    coalesce(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END,
                             '<null>'),
                    coalesce(lang, '<null>'),
                    coalesce(source, '<null>'))) AS new_hash
           FROM documents WHERE doc_id % 5 <> 0),
         d AS (
           SELECT doc_id,
                  CASE WHEN old_hash IS NULL THEN 'added'
                       WHEN new_hash IS NULL THEN 'removed'
                       WHEN old_hash <> new_hash THEN 'changed' END AS change
           FROM oldd FULL JOIN newd USING (doc_id))
         SELECT doc_id, change FROM d WHERE change IS NOT NULL ORDER BY doc_id""",
    // retraction readback: the anti-join delete's survivors — matching
    // proves Warehouse.forget rewrote the persisted table to exactly
    // the un-retracted rows
    "warehouse_forget" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey % 10 <> 0 ORDER BY o_orderkey""",
    "sim_topk_pq" -> pqTopkOracle(m = 16, ksub = 32, iters = 3, shortlist = 25, k = 5),
    "sim_topk_ivfadc" -> ivfAdcOracle(nlist = 16, nprobe = 4, m = 16, ksub = 32,
      iters = 3, shortlist = 25, k = 5),
    "corpus_chunk" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w,
                  CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n
           FROM documents),
         c AS (
           SELECT doc_id, w,
                  unnest(range(0, CASE WHEN n <= 64 THEN 1
                         ELSE CAST(ceil(CAST(n - 64 AS DOUBLE) / 48) AS BIGINT) + 1 END))
                    AS chunk_idx
           FROM t)
         SELECT doc_id, chunk_idx,
                CAST(len(list_slice(w, CAST(chunk_idx * 48 + 1 AS INTEGER),
                                       CAST(chunk_idx * 48 + 64 AS INTEGER))) AS BIGINT)
                  AS n_tokens,
                array_to_string(list_slice(w, CAST(chunk_idx * 48 + 1 AS INTEGER),
                                              CAST(chunk_idx * 48 + 64 AS INTEGER)), ' ')
                  AS chunk_text
         FROM c ORDER BY doc_id, chunk_idx""",
    "corpus_select_budget" -> {
      val stop = TextAnalysis.stopwordsEn.map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (
           SELECT doc_id,
                  CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens,
                  round(0.5 * (CAST(len(list_distinct(string_split(lower(trim(text)), ' '))) AS DOUBLE)
                          / len(string_split(lower(trim(text)), ' ')))
                      + 0.3 * least(CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                              x -> x IN ($stop))) AS DOUBLE)
                          / len(string_split(lower(trim(text)), ' ')) * 4, 1.0)
                      + 0.2 * least(CAST(len(string_split(lower(trim(text)), ' ')) AS DOUBLE)
                          / 100.0, 1.0), 6) AS quality_score
           FROM documents),
         s AS (
           SELECT doc_id, n_tokens, quality_score,
                  CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT)
                    AS cum
           FROM f)
         SELECT doc_id, n_tokens, quality_score FROM s
         WHERE cum <= 20000 ORDER BY doc_id""" },
    "corpus_sample_weighted" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
                  round(pow(CAST(('0x' || substr(md5('s:wsample:' || CAST(doc_id AS VARCHAR)), 1, 6))
                              AS BIGINT) / 16777216.0,
                            1.0 / n_chars), 9) AS wkey
           FROM documents WHERE n_chars > 0
           ORDER BY wkey DESC, doc_id LIMIT 200)
         ORDER BY doc_id""",
    "dedup_windows" ->
      // token-window exact substring dedup — windows keyed by raw text,
      // first occurrence ordered by (doc_id, widx); combined BIGINT key
      // doc_id*2^20+widx mirrors the Scala struct-min (widx < 2^20 holds
      // for any test doc; the operator itself has no such bound)
      """WITH toks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
         wl AS (SELECT doc_id,
                       list_transform(range(CAST(ceil(len(w) / 16.0) AS BIGINT)),
                         i -> {'widx': i, 'wtext': array_to_string(list_slice(w, i*16+1, i*16+16), ' ')}) AS wt
                FROM toks),
         wins0 AS (SELECT doc_id, unnest(wt) AS u FROM wl),
         wins AS (SELECT doc_id, u.widx AS widx, u.wtext AS wtext FROM wins0),
         keeper AS (SELECT wtext, min(doc_id*1048576+widx) AS kk FROM wins GROUP BY wtext)
       SELECT w.doc_id AS doc_id,
              count(*) AS n_windows,
              CAST(sum(CASE WHEN w.doc_id*1048576+w.widx = f.kk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              COALESCE(array_to_string(list(w.wtext ORDER BY w.widx) FILTER (WHERE w.doc_id*1048576+w.widx = f.kk), ' '), '') AS clean_text
       FROM wins w JOIN keeper f ON w.wtext = f.wtext
       GROUP BY w.doc_id ORDER BY doc_id""",
    "dedup_span_stats" -> (spanChainCtes + spanStatsTailSql("")),
    "dedup_span_incremental" ->
      (spanChainCtes + spanStatsTailSql("WHERE b.doc_id % 2 = 1")),
    "dedup_span_profile" -> (spanChainCtes +
      """,
         tot AS (SELECT count(*) AS n_spans FROM sp),
         occ_c AS (SELECT count(*) AS dup_spans FROM occ),
         dds AS (SELECT count(*) AS distinct_dup_shingles FROM dupsp),
         cov0 AS (SELECT doc_id, unnest(range(pos, pos + 8)) AS t FROM occ),
         covc AS (SELECT count(*) AS dup_tokens
                  FROM (SELECT DISTINCT doc_id, t FROM cov0)),
         bs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM base)
       SELECT bs.n_docs,
              CAST(tot.n_spans AS BIGINT) AS n_spans,
              CAST(occ_c.dup_spans AS BIGINT) AS dup_spans,
              round(CAST(occ_c.dup_spans AS DOUBLE) / greatest(tot.n_spans, 1), 6)
                AS dup_span_frac,
              CAST(dds.distinct_dup_shingles AS BIGINT) AS distinct_dup_shingles,
              CAST(covc.dup_tokens AS BIGINT) AS dup_tokens,
              bs.n_tokens,
              round(CAST(covc.dup_tokens AS DOUBLE) / greatest(bs.n_tokens, 1), 6)
                AS dup_token_frac
       FROM bs, tot, occ_c, dds, covc"""),
    // the span chain collapsed to a (shingle, source) bipartite edge
    // list, then the coNeighborJaccard CTE shape (hub cap 100)
    "corpus_overlap_matrix" -> (spanChainCtes + """,
         ss AS (SELECT DISTINCT d2.source AS r, s.shingle AS l
                FROM sp s JOIN documents d2 ON d2.doc_id = s.doc_id),
         shot AS (SELECT l FROM ss GROUP BY l HAVING count(*) > 100),
         skept AS (SELECT ss.* FROM ss WHERE ss.l NOT IN (SELECT l FROM shot)),
         ssizes AS (SELECT r, count(*) AS n_l FROM skept GROUP BY r),
         spr AS (SELECT x.r AS source_a, y.r AS source_b, count(*) AS shared_spans
                 FROM skept x JOIN skept y ON x.l = y.l AND x.r < y.r
                 GROUP BY 1, 2)
         SELECT spr.source_a, spr.source_b, spr.shared_spans,
                round(CAST(spr.shared_spans AS DOUBLE)
                      / (sa.n_l + sb.n_l - spr.shared_spans), 6) AS jaccard
         FROM spr JOIN ssizes sa ON sa.r = spr.source_a
                  JOIN ssizes sb ON sb.r = spr.source_b
         ORDER BY source_a, source_b"""),
    "corpus_source_rank" -> corpusSourceRankSql(),
    "dedup_span_mask" -> (spanChainCtes +
      // keeper = first global occurrence by (doc_id, pos); the combined
      // BIGINT key doc_id*2^20+pos mirrors the Scala struct-min (pos <
      // 2^20 holds for any test doc; the operator itself has no bound —
      // the dedup_windows convention)
      """,
         keeper AS (SELECT shingle, min(doc_id * 1048576 + pos) AS kk FROM occ GROUP BY shingle),
         mocc AS (SELECT o.doc_id, o.pos FROM occ o JOIN keeper k ON o.shingle = k.shingle
                  WHERE o.doc_id * 1048576 + o.pos <> k.kk),
         mpos0 AS (SELECT doc_id, unnest(range(pos, pos + 8)) AS t FROM mocc),
         mpos AS (SELECT DISTINCT doc_id, t FROM mpos0),
         wtl AS (SELECT doc_id, list_transform(range(len(w)), i -> {'t': i, 'tok': w[i + 1]}) AS l
                 FROM toks),
         wt0 AS (SELECT doc_id, unnest(l) AS u FROM wtl),
         wt AS (SELECT doc_id, u.t AS t, u.tok AS tok FROM wt0),
         keptt AS (SELECT w.doc_id, w.t, w.tok FROM wt w
                   LEFT JOIN mpos m ON m.doc_id = w.doc_id AND m.t = w.t
                   WHERE m.doc_id IS NULL),
         reb AS (SELECT doc_id, count(*) AS kept_tokens,
                        md5(string_agg(tok, ' ' ORDER BY t)) AS clean_hash
                 FROM keptt GROUP BY doc_id)
       SELECT b.doc_id, b.n_tokens,
              CAST(b.n_tokens - COALESCE(r.kept_tokens, 0) AS BIGINT) AS masked_tokens,
              CAST(COALESCE(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
              COALESCE(r.clean_hash, md5('')) AS clean_hash
       FROM base b LEFT JOIN reb r ON r.doc_id = b.doc_id
       ORDER BY b.doc_id"""),
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_id""",
    "dedup_containment" -> (shingleCte +
      """,
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter,
                  any_value(sa.n_sh) AS n_a, any_value(sb.n_sh) AS n_b
           FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           JOIN sizes sa ON sa.doc_id = a.doc_id
           JOIN sizes sb ON sb.doc_id = b.doc_id
           GROUP BY a.doc_id, b.doc_id),
         dirpairs AS (
           SELECT id_a AS contained_id, id_b AS container_id,
                  CAST(n_inter AS DOUBLE) / n_a AS containment FROM inter
           UNION ALL
           SELECT id_b, id_a, CAST(n_inter AS DOUBLE) / n_b FROM inter)
         SELECT contained_id, container_id, round(containment, 6) AS containment
         FROM dirpairs WHERE containment >= 0.8
         ORDER BY contained_id, container_id"""),
    "dedup_ngram_jaccard" -> (shingleCte + jaccardPairsTail),
    // portable SRP-LSH near-dup: md5 hyperplanes, bucket cap 200, exact
    // cosine verify — mirrors Dedup.embeddingNearDup(portable = true)
    "dedup_embedding" ->
      s"""WITH ${srpSigsCte(tables = 12, bits = 4, seedBase = 42)},
          hot AS (SELECT bucket FROM sigs GROUP BY bucket HAVING count(*) > 200),
          cand AS (
            SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
            FROM sigs x JOIN sigs y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
            WHERE x.bucket NOT IN (SELECT bucket FROM hot)),
          scored AS (
            SELECT c.id_a, c.id_b, ${cosSql("a.embedding", "b.embedding")} AS cs
            FROM cand c
            JOIN embeddings a ON a.vec_id = c.id_a
            JOIN embeddings b ON b.vec_id = c.id_b)
         SELECT id_a, id_b, round(cs, 6) AS cosine
         FROM scored WHERE cs >= 0.35 ORDER BY id_a, id_b""",
    // portable SRP ANN top-k: corpus-side bucket cap, rank window
    "sim_topk_srp" ->
      s"""WITH ${srpSigsCte(tables = 4, bits = 8, seedBase = 7)},
          hot AS (SELECT bucket FROM sigs GROUP BY bucket HAVING count(*) > 10000),
          cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM sigs q JOIN sigs c ON q.bucket = c.bucket
            WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
              AND c.bucket NOT IN (SELECT bucket FROM hot)),
          scored AS (
            SELECT cd.query_id, cd.neighbor_id, ${cosSql("a.embedding", "b.embedding")} AS cs
            FROM cand cd
            JOIN embeddings a ON a.vec_id = cd.query_id
            JOIN embeddings b ON b.vec_id = cd.neighbor_id),
          ranked AS (
            SELECT query_id, neighbor_id, cs,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cs DESC, neighbor_id) AS rank
            FROM scored)
         SELECT query_id, rank, neighbor_id, round(cs, 6) AS cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // portable minhash LSH: md5-poly shingles, affine-mod-p families — the
    // exact pipeline Dedup.minhashLsh(portable = true) runs, in ANSI SQL.
    // Reuses the shared shingle CTEs (one definition of the portable
    // formula; ngram, minhash and cluster-reps must never drift apart).
    "dedup_minhash_lsh" ->
      (shingleCte + minhashPairCtes + """
         SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b"""),
    // connected components over the SAME pair set: recursive transitive
    // closure, rep = min id of the component (docs in no pair keep self)
    "dedup_cluster_reps" ->
      (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + minhashPairCtes + """,
         edges AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
         tc AS (
           SELECT a, b FROM edges
           UNION SELECT tc.a, e.b FROM tc JOIN edges e ON tc.b = e.a)
         SELECT d.doc_id, least(d.doc_id, coalesce(min(t.b), d.doc_id)) AS rep_id
         FROM documents d LEFT JOIN tc t ON t.a = d.doc_id
         GROUP BY d.doc_id ORDER BY doc_id"""),
    // portable simhash: md5 token bits -> per-bit votes -> 64-char signature
    // string; blocks = maxHamming+1 = 7, bucket cap 1000, exact hamming verify
    "dedup_simhash" -> {
      val blockArms = (0 until 7).map { b =>
        val lo = b * 64 / 7
        val hi = (b + 1) * 64 / 7
        s"SELECT doc_id, sig, '$b:' || substr(sig, ${64 - hi + 1}, ${hi - lo}) AS block_key FROM sigs"
      }.mkString("\n           UNION ALL ")
      s"""WITH toks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
         th AS (
           SELECT doc_id, unnest(list_transform(w, t -> substr(md5(t), 1, 16))) AS h
           FROM toks),
         bits AS (
           SELECT doc_id, m,
                  ((CAST(('0x' || substr(h, m // 4 + 1, 1)) AS INTEGER) >> (3 - m % 4)) & 1) AS bit
           FROM th CROSS JOIN range(64) AS r(m)),
         votes AS (SELECT doc_id, m, sum(2 * bit - 1) AS v FROM bits GROUP BY doc_id, m),
         sigs AS (
           SELECT doc_id,
                  string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY m) AS sig
           FROM votes GROUP BY doc_id),
         blocked AS (
           $blockArms),
         keptb AS (SELECT block_key FROM blocked GROUP BY block_key HAVING count(*) <= 1000),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.sig AS sig_a, y.sig AS sig_b
           FROM blocked x JOIN blocked y ON x.block_key = y.block_key AND x.doc_id < y.doc_id
           WHERE x.block_key IN (SELECT block_key FROM keptb)),
         ham AS (
           SELECT id_a, id_b,
                  CAST(list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN substr(sig_a, i, 1) = substr(sig_b, i, 1)
                            THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
           FROM cand)
         SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 6 ORDER BY id_a, id_b"""
    },
    "dedup_embedding_exact" ->
      """WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
              scored AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_sum(list_transform(range(1, len(a.embedding)+1),
                         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(a.embedding)+1),
                            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(range(1, len(b.embedding)+1),
                            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
                         AS c
                FROM sub a JOIN sub b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, round(c, 6) AS cosine FROM scored
         WHERE c >= 0.35 ORDER BY id_a, id_b""",
    "sim_topk_bruteforce" -> bruteforceTopkSql(),
    "sim_topk_ivf" -> ivfTopkSql,
    // recall@5 of the IVF index vs the exact scan: both sides are the
    // already-oracled topk queries embedded as CTEs (their inner WITHs
    // are subquery-scoped), joined on (query_id, neighbor_id)
    "sim_eval_recall" ->
      s"""WITH bf AS (${bruteforceTopkSql()}),
          iv AS ($ivfTopkSql),
          hits AS (
            SELECT bf.query_id, count(*) AS n_hits
            FROM bf JOIN iv ON bf.query_id = iv.query_id
                           AND bf.neighbor_id = iv.neighbor_id
            GROUP BY bf.query_id),
          qs AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10)
         SELECT q.query_id,
                coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
                CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall
         FROM qs q LEFT JOIN hits h ON q.query_id = h.query_id
         ORDER BY q.query_id""",
    // hard negatives: the brute-force scorer restricted to wrong-label
    // candidates (the label predicate joins the pair filter)
    "sim_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
                    FROM embeddings WHERE vec_id < 10),
              scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_sum(list_transform(range(1, len(qv)+1),
                         i -> CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(qv)+1),
                            i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
                            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
                         AS c
                FROM embeddings e, q
                WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
              ranked AS (
                SELECT query_id, neighbor_id, c,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY c DESC, neighbor_id) AS rank
                FROM scored)
         SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // kNN majority vote over the exact top-5: modal neighbor label,
    // ties to the smallest label — integer votes, nothing float-borne
    "sim_label_knn" ->
      s"""WITH bf AS (${bruteforceTopkSql()}),
          votes AS (
            SELECT bf.query_id, e.label, count(*) AS n_votes
            FROM bf JOIN embeddings e ON bf.neighbor_id = e.vec_id
            GROUP BY bf.query_id, e.label),
          ranked AS (
            SELECT query_id, label, n_votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY n_votes DESC, label) AS rn
            FROM votes)
         SELECT r.query_id, r.label AS pred_label, r.n_votes,
                e.label AS true_label, r.label = e.label AS correct
         FROM ranked r JOIN embeddings e ON r.query_id = e.vec_id
         WHERE r.rn = 1 ORDER BY r.query_id""",
    // SQL replay of Similarity.ivfTopKTrained(k=5, nlist=8, iters=5,
    // nprobe=2): 5 unrolled integer-grid Lloyd rounds (MATERIALIZED — the
    // chain is depth 5), then the trained cent5 centroids are cast through
    // FLOAT exactly as the Scala side ships them into the routing literal
    // (`cv.map(_.toFloat)`), corpus rows route to their nearest cell,
    // queries probe their 2 nearest cells, exact cosine scores within
    // probed cells, top-5 per query.
    "sim_topk_ivf_kmeans" ->
      s"""WITH ${kmChainCtes(8, 5, materialize = true)},
          centf AS MATERIALIZED (
            SELECT c, list_transform(cv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cvf
            FROM cent5),
          assigned AS (
            SELECT vec_id, embedding, c AS cell_id FROM (
              SELECT e.vec_id, e.embedding, s.c,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "s.cvf")} DESC, s.c) AS rn
              FROM embeddings e CROSS JOIN centf s)
            WHERE rn = 1),
          qprobe AS (
            SELECT query_id, q_vec, cell_id FROM (
              SELECT e.vec_id AS query_id, e.embedding AS q_vec, s.c AS cell_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "s.cvf")} DESC, s.c) AS rn
              FROM embeddings e CROSS JOIN centf s WHERE e.vec_id < 10)
            WHERE rn <= 2),
          scored AS (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   ${cosSql("q.q_vec", "a.embedding")} AS c
            FROM qprobe q JOIN assigned a
              ON a.cell_id = q.cell_id AND a.vec_id <> q.query_id),
          ranked AS (
            SELECT query_id, neighbor_id, c,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, neighbor_id) AS rank
            FROM scored)
         SELECT query_id, rank, neighbor_id, round(c, 6) AS cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "text_langid" -> {
      val hitExprs = TextAnalysis.lexicons.map { case (lang, lex) =>
        val inList = lex.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(w, x -> x IN ($inList))) AS h_$lang"
      }.mkString(",\n                ")
      val langs = TextAnalysis.lexicons.map(_._1)
      val caseChain = langs.init.map { l =>
        val geAll = langs.filter(_ != l).map(o => s"h_$l >= h_$o").mkString(" AND ")
        s"WHEN $geAll THEN '$l'"
      }.mkString("\n                     ") + s" ELSE '${langs.last}'"
      val greatest = s"greatest(${langs.map("h_" + _).mkString(", ")})"
      s"""WITH toks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
              hits AS (SELECT doc_id,
                $hitExprs
                FROM toks)
         SELECT doc_id,
                CASE WHEN $greatest = 0 THEN 'unknown'
                     ELSE CASE $caseChain END END AS lang_pred,
                $greatest AS n_hits
         FROM hits ORDER BY doc_id"""
    },
    // full bit-exact replay of trained-quality-model training + scoring
    // (generated: 5 unrolled Newton iterations — see qualityTrainedSql)
    "text_quality_trained" -> qualityTrainedSql(),
    "text_quality" -> {
      val stop = TextAnalysis.stopwordsEn.map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (
           SELECT doc_id, length(text) AS n_chars,
                  len(string_split(lower(trim(text)), ' ')) AS n_tokens,
                  len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_unique,
                  len(list_filter(string_split(lower(trim(text)), ' '),
                      x -> x IN ($stop))) AS n_stopwords
           FROM documents)
         SELECT doc_id, n_chars, n_tokens, n_unique, n_stopwords,
                CAST(n_unique AS DOUBLE) / n_tokens AS unique_ratio,
                CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
                CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS mean_token_len,
                round(0.5 * (CAST(n_unique AS DOUBLE) / n_tokens)
                    + 0.3 * least(CAST(n_stopwords AS DOUBLE) / n_tokens * 4, 1.0)
                    + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) AS quality_score
         FROM f ORDER BY doc_id"""
    },
    "text_nfc" ->
      """SELECT doc_id, nfc_normalize(text) AS text_nfc,
                text = nfc_normalize(text) AS already_nfc
         FROM documents ORDER BY doc_id""",
    "corpus_datasheet" -> {
      val stop = TextAnalysis.stopwordsEn.map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (
           SELECT doc_id, lang, source, text,
                  CAST(length(text) AS BIGINT) AS n_chars,
                  CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens,
                  len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_unique,
                  len(list_filter(string_split(lower(trim(text)), ' '),
                      x -> x IN ($stop))) AS n_stopwords
           FROM documents),
         q AS (
           SELECT doc_id, lang, source, text, n_chars, n_tokens,
                  round(0.5 * (CAST(n_unique AS DOUBLE) / n_tokens)
                      + 0.3 * least(CAST(n_stopwords AS DOUBLE) / n_tokens * 4, 1.0)
                      + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) AS quality_score,
                  CASE WHEN len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
                          + len(regexp_extract_all(text, '([0-9]{1,3}\\.){3}[0-9]{1,3}'))
                          + len(regexp_extract_all(text, '\\+[0-9][0-9 -]{7,}[0-9]')) > 0
                       THEN 1 ELSE 0 END AS has_pii
           FROM f),
         a AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
                  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
                  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
                  CAST(sum(CAST(floor(least(greatest(quality_score, -1.0e6), 1.0e6)
                      * 1.0e12) AS DECIMAL(38,0))) AS DOUBLE) / 1.0e12 AS q_sum,
                  CAST(sum(has_pii) AS BIGINT) AS n_pii_docs
           FROM q)
         SELECT metric, value FROM (
           SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
           UNION ALL SELECT 'n_chars_total', CAST(n_chars_total AS DOUBLE) FROM a
           UNION ALL SELECT 'n_tokens_total', CAST(n_tokens_total AS DOUBLE) FROM a
           UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
           UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
           UNION ALL SELECT 'exact_dup_rate',
             round(1.0 - CAST(n_unique_texts AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) FROM a
           UNION ALL SELECT 'mean_quality',
             round(q_sum / CAST(n_docs AS DOUBLE), 6) FROM a
           UNION ALL SELECT 'pii_doc_rate',
             round(CAST(n_pii_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) FROM a
           UNION ALL SELECT 'mean_tokens_per_doc',
             round(CAST(n_tokens_total AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) FROM a)
         ORDER BY metric"""
    },
    "text_tokens" ->
      """SELECT doc_id,
                CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS ws_tokens,
                CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens
         FROM documents ORDER BY doc_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
                md5(array_to_string(string_split(lower(trim(text)), ' '), ' ')) AS canonical_md5,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(lower(trim(text)), ' '),
                      w -> CAST(('0x' || substr(md5(w), 1, 6)) AS BIGINT))),
                  (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
         FROM documents ORDER BY doc_id""",
    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
           bg AS (SELECT doc_id,
                         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bigram
                  FROM toks WHERE len(w) >= 2),
           cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac,
                round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS dup_bigram_frac
         FROM cnt GROUP BY doc_id ORDER BY doc_id""",
    "text_pii_redact" ->
      """WITH seeded AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0
                       THEN text || ' reach user' || CAST(doc_id AS VARCHAR)
                            || '@mail.example.com or +1 555-010-' || CAST(doc_id % 90 + 10 AS VARCHAR)
                            || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                            || '.3.' || CAST(doc_id % 250 AS VARCHAR)
                       ELSE text END AS text
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
                CAST(len(regexp_extract_all(text, '\+[0-9][0-9 -]{7,}[0-9]')) AS BIGINT) AS n_phones,
                regexp_replace(regexp_replace(regexp_replace(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                  '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
                  '\+[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
         FROM seeded ORDER BY doc_id""",
    "text_boilerplate" ->
      """WITH seeded AS (
           SELECT doc_id, source,
                  'subscribe to ' || source || chr(10) || text || chr(10)
                    || 'all rights reserved' AS text
           FROM documents),
         linesu AS (
           SELECT doc_id, source,
                  unnest(list_transform(range(1, len(l) + 1),
                    i -> {'line_no': i - 1, 'line': l[CAST(i AS INTEGER)]})) AS u
           FROM (SELECT doc_id, source,
                        string_split(text, chr(10)) AS l FROM seeded)),
         lines AS (
           SELECT doc_id, source, u.line_no AS line_no, u.line AS line
           FROM linesu),
         hot AS (
           SELECT source, line FROM (
             SELECT source, line, count(DISTINCT doc_id) AS df
             FROM lines GROUP BY 1, 2)
           WHERE df >= 10)
         SELECT l.doc_id,
                coalesce(string_agg(l.line, chr(10) ORDER BY l.line_no)
                           FILTER (WHERE h.line IS NULL), '') AS clean_text
         FROM lines l
         LEFT JOIN hot h ON l.source = h.source AND l.line = h.line
         GROUP BY l.doc_id
         ORDER BY l.doc_id""",
    "text_c4_filter" ->
      """WITH seeded AS (
           SELECT doc_id,
                  text || '.' || chr(10) || 'click here' || chr(10) ||
                  CASE CAST(doc_id % 4 AS INTEGER)
                    WHEN 0 THEN 'please enable javascript to continue.'
                    WHEN 1 THEN 'one two.'
                    WHEN 2 THEN 'if (x) { return 0; }'
                    ELSE 'lorem ipsum dolor sit amet.' END AS text
           FROM documents),
         l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM seeded),
         k AS (SELECT doc_id, text, len(ls) AS n_lines,
                      list_filter(ls, x -> regexp_matches(trim(x), '[.!?"]$')
                        AND len(string_split_regex(trim(x), ' +')) >= 3
                        AND NOT contains(lower(trim(x)), 'javascript')) AS kept
               FROM l)
         SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
                CAST(len(kept) AS BIGINT) AS n_kept,
                array_to_string(kept, chr(10)) AS clean_text,
                (NOT (contains(text, '{') OR contains(lower(text), 'lorem ipsum')))
                  AND len(kept) >= 1 AS keep_page
         FROM k ORDER BY doc_id""",
    "text_html_extract" ->
      """WITH seeded AS (
           SELECT doc_id,
                  '<html><head><title>' || source
                  || '</title><script type="text/javascript">var a=1; if(a<2){a=3;}'
                  || '</script><style>p { color: red; }</style></head><body><h1>Doc '
                  || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
                  || '</p><div class="x">Tom &amp; Jerry &lt;3 &quot;ok&quot; '
                  || 'it&#39;s&nbsp;done</div><!-- hidden --></body></html>' AS html
           FROM documents),
         s1 AS (SELECT doc_id, html,
                       regexp_replace(regexp_replace(html,
                         '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                         '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS t
                FROM seeded),
         s2 AS (SELECT doc_id, html,
                       regexp_replace(regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g'),
                         '<[^>]*>', ' ', 'g') AS t
                FROM s1),
         s3 AS (SELECT doc_id, html,
                       replace(replace(replace(replace(replace(replace(t,
                         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                         '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
                FROM s2)
         SELECT doc_id, CAST(length(html) AS BIGINT) AS n_chars_raw,
                trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text,
                CAST(length(trim(regexp_replace(t, '\s+', ' ', 'g'))) AS BIGINT)
                  AS n_chars_clean
         FROM s3 ORDER BY doc_id""",
    "text_char_entropy" ->
      """WITH c AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n,
                           string_split(text, '') AS cs
                    FROM documents),
         cnt AS (SELECT doc_id, n, cs,
                        list_transform(list_sort(list_distinct(cs)),
                          a -> CAST(len(list_filter(cs, x -> x = a)) AS DOUBLE)) AS counts
                 FROM c)
         SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
                CAST(len(counts) AS BIGINT) AS n_distinct_chars,
                CASE WHEN n = 0 THEN 0.0
                     ELSE round(list_max(counts) / n, 6) END AS top_char_frac,
                CASE WHEN n = 0 THEN 0.0
                     ELSE round(1.0 - list_reduce(list_prepend(0.0,
                            list_transform(counts, c -> (c / n) * (c / n))),
                            (a, b) -> a + b), 6) END AS char_simpson,
                CASE WHEN n = 0 THEN 0.0
                     ELSE round(0.0 - list_reduce(list_prepend(0.0,
                            list_transform(counts, c -> (c / n) * ln(c / n))),
                            (a, b) -> a + b), 6) END AS char_entropy
         FROM cnt ORDER BY doc_id""",
    "dedup_incremental" -> {
      // one capped-shingle + minhash + banding chain per side (the corpus
      // cap is fixed at state-build time; the batch caps within itself —
      // mirrors Dedup.minhashState / minhashLshIncremental exactly)
      s"""WITH cp_src AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
           bt_src AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
           ${shingleChainCtes("cp_", "cp_src", Some(100))},
           ${shingleChainCtes("bt_", "bt_src", Some(100))},
           ${minhashBandCtes("cp_")},
           ${minhashBandCtes("bt_")},
           cand AS (
             SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             FROM bt_bands x JOIN cp_bands y ON x.band_key = y.band_key
             UNION
             SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             FROM bt_bands x JOIN bt_bands y ON x.band_key = y.band_key AND x.doc_id < y.doc_id),
           allkept AS (SELECT * FROM bt_kept UNION ALL SELECT * FROM cp_kept),
           allsizes AS (SELECT * FROM bt_sizes UNION ALL SELECT * FROM cp_sizes),
           inter AS (
             SELECT c.id_a, c.id_b, count(*) AS n_inter
             FROM cand c JOIN allkept a ON a.doc_id = c.id_a
                         JOIN allkept b ON b.doc_id = c.id_b AND b.shingle = a.shingle
             GROUP BY c.id_a, c.id_b)
         SELECT i.id_a, i.id_b,
                round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
         FROM inter i
         JOIN allsizes sa ON sa.doc_id = i.id_a
         JOIN allsizes sb ON sb.doc_id = i.id_b
         WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.30
         ORDER BY id_a, id_b"""
    },
    // per-side portable shingles from the ONE shared formula (no df-cap —
    // Decontam.overlap applies none). The bloom variant shares the oracle
    // verbatim: its bloom is a prefilter ahead of the same exact join, so
    // false positives can't reach the output.
    "decontaminate" -> decontaminateSql,
    "decontaminate_bloom" -> decontaminateSql,
    "decontaminate_persisted" -> decontaminateSql,
    "decontaminate_score" ->
      s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
          bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
          ${shingleChainCtes("cs_", "corp", None)},
          ${shingleChainCtes("bs_", "bench", None)},
          bset AS (SELECT DISTINCT shingle FROM bs_kept)
        SELECT cs_kept.doc_id AS doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared,
               round(CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS contamination
        FROM cs_kept LEFT JOIN bset b ON b.shingle = cs_kept.shingle
        GROUP BY cs_kept.doc_id
        ORDER BY doc_id""",
    "corpus_vocab_cms" ->
      """SELECT lang, token, n AS n_est FROM (
           SELECT lang, token, count(*) AS n,
                  row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rn
           FROM (SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS token
                 FROM documents) t
           GROUP BY lang, token) z
         WHERE rn <= 5
         ORDER BY lang, n DESC, token""",
    "corpus_vocab" ->
      """SELECT lang, token, n FROM (
           SELECT lang, token, count(*) AS n,
                  row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rn
           FROM (SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS token
                 FROM documents) t
           GROUP BY lang, token) z
         WHERE rn <= 5
         ORDER BY lang, n DESC, token""",
    "corpus_domain_cap" -> {
      val stop = TextAnalysis.stopwordsEn.map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (
           SELECT doc_id, source,
                  len(string_split(lower(trim(text)), ' ')) AS n_tokens,
                  len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_unique,
                  len(list_filter(string_split(lower(trim(text)), ' '),
                      x -> x IN ($stop))) AS n_stopwords
           FROM documents),
         q AS (
           SELECT doc_id, source,
                  round(0.5 * (CAST(n_unique AS DOUBLE) / n_tokens)
                      + 0.3 * least(CAST(n_stopwords AS DOUBLE) / n_tokens * 4, 1.0)
                      + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) AS quality_score
           FROM f)
         SELECT doc_id, source, quality_score FROM (
           SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY quality_score DESC, doc_id) AS rn
           FROM q) z
         WHERE rn <= 10
         ORDER BY source, quality_score DESC, doc_id"""
    },
    // exact stratified split: per-lang (hash, id) ranks against exact
    // cumulative-fraction quotas; cum literals 0.75/0.875 are exact
    // binary doubles, associations mirror the Spark side
    "corpus_split" ->
      """WITH b AS (
           SELECT doc_id, lang,
                  CAST(('0x' || substr(md5('s:split:' || CAST(doc_id AS VARCHAR)), 1, 6))
                    AS BIGINT) / 16777216.0 AS h
           FROM documents),
         r AS (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn,
                  CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
           FROM b)
         SELECT doc_id, lang,
                CASE WHEN rn <= ceil(0.75 * CAST(n AS DOUBLE)) THEN 'train'
                     WHEN rn <= ceil(0.875 * CAST(n AS DOUBLE)) THEN 'validation'
                     ELSE 'test' END AS split
         FROM r ORDER BY doc_id""",
    "corpus_curriculum" -> {
      val stop = TextAnalysis.stopwordsEn.map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (
           SELECT doc_id, source,
                  len(string_split(lower(trim(text)), ' ')) AS n_tokens,
                  len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_unique,
                  len(list_filter(string_split(lower(trim(text)), ' '),
                      x -> x IN ($stop))) AS n_stopwords
           FROM documents),
         q AS (
           SELECT doc_id, source,
                  round(0.5 * (CAST(n_unique AS DOUBLE) / n_tokens)
                      + 0.3 * least(CAST(n_stopwords AS DOUBLE) / n_tokens * 4, 1.0)
                      + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) AS quality_score
           FROM f),
         r AS (
           SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source
                         ORDER BY quality_score DESC, doc_id) AS BIGINT) AS src_rank
           FROM q)
         SELECT doc_id, source, src_rank,
                CAST(row_number() OVER (ORDER BY src_rank, source) AS BIGINT) AS position
         FROM r ORDER BY position"""
    },
    "corpus_doremi" -> {
      // the MW iteration unrolled: each round is the same two CTEs over
      // the K-row domain table; every quantity sits on the 1e-12 integer
      // grid (< 2^53), so double arithmetic replays Spark's longs exactly
      val rounds = (1 to 5).map { i =>
        s"""r${i}u AS (SELECT *, floor(alpha * (1.0 + 1.0 * excess)) AS u
                FROM r${i - 1}),
         r$i AS (SELECT domain, n_docs, excess, k,
                       floor(((1.0 - 0.01) * u / (SUM(u) OVER ()) + 0.01 / k)
                         * 1000000000000.0) AS alpha
                FROM r${i}u)"""
      }.mkString(",\n         ")
      s"""WITH base AS (
           SELECT CAST(source AS VARCHAR) AS domain, COUNT(*) AS n_docs,
                  CAST(SUM(CAST(floor(least(greatest(
                      ((doc_id % 7) / 10.0 + (n_chars % 13) / 100.0)
                        - (doc_id % 5) / 10.0, 0.0), 1000.0)
                      * 1000000000000.0) AS HUGEINT)) AS DOUBLE)
                    / 1000000000000.0 AS esum
           FROM documents GROUP BY source),
         b2 AS (SELECT domain, n_docs, esum / n_docs AS excess,
                       COUNT(*) OVER () AS k
                FROM base),
         r0 AS (SELECT *, floor(1000000000000.0 / k) AS alpha FROM b2),
         $rounds
         SELECT domain, n_docs, excess,
                alpha / 1000000000000.0 AS weight
         FROM r5 ORDER BY domain"""
    },
    "corpus_sample_stratified" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY CAST(('0x' || substr(md5('s:strat:' || CAST(doc_id AS VARCHAR)), 1, 6))
                               AS BIGINT) / 16777216.0,
                             doc_id) AS rn
           FROM documents)
         WHERE rn <= 100
         ORDER BY lang, doc_id""",
    "corpus_shuffle" ->
      """SELECT doc_id, shuffle_pos FROM (
           SELECT doc_id,
                  row_number() OVER (
                    ORDER BY CAST(('0x' || substr(md5('s:shuffle:' || CAST(doc_id AS VARCHAR)), 1, 6))
                               AS BIGINT) / 16777216.0,
                             doc_id) AS shuffle_pos
           FROM documents)
         ORDER BY doc_id""",
    "corpus_mixture_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
           r AS (SELECT lang,
                        round(least(1.0,
                          0.3 * (SELECT sum(n) FROM c) * pow(n, 0.5)
                            / ((SELECT sum(pow(n, 0.5)) FROM c) * n)), 6) AS rate
                 FROM c)
         SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
         WHERE CAST(('0x' || substr(md5('s:temp:' || CAST(d.doc_id AS VARCHAR)), 1, 6))
                 AS BIGINT) / 16777216.0 < r.rate
         ORDER BY d.doc_id""",
    "corpus_sample_hash" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST(('0x' || substr(md5('s:r2:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
               / 16777216.0 < 0.25
         ORDER BY doc_id""",
    "corpus_mixture" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST(('0x' || substr(md5('s:mix:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
               / 16777216.0
               < CASE lang WHEN 'en' THEN 1.0 WHEN 'es' THEN 0.5
                           WHEN 'fr' THEN 0.25 WHEN 'de' THEN 0.1 ELSE 0.0 END
         ORDER BY doc_id""",
    "corpus_pack" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5('b:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 8
                    AS block
           FROM documents),
         s AS (
           SELECT doc_id, block, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY block ORDER BY doc_id) - n_tokens
                    AS BIGINT) AS stream_start
           FROM t)
         SELECT doc_id, block, n_tokens,
                CAST(stream_start // 2048 AS BIGINT) AS bin_id,
                CAST(stream_start % 2048 AS BIGINT) AS bin_offset
         FROM s ORDER BY doc_id""",
    "sim_kmeans" ->
      s"""WITH $kmeansCtes,
          members AS (
            SELECT cell_id, COUNT(*) AS n_members FROM assign3 GROUP BY cell_id),
          flat AS (
            SELECT c.c AS cell_id,
                   unnest(list_transform(range(1, len(c.cv)+1),
                     ii -> {'d': ii - 1, 'v': c.cv[CAST(ii AS INTEGER)]})) AS u
            FROM cent2 c)
         SELECT f.cell_id, u.d AS dim, round(u.v, 9) AS cval,
                COALESCE(m.n_members, 0) AS n_members
         FROM flat f LEFT JOIN members m ON m.cell_id = f.cell_id
         ORDER BY f.cell_id, dim""",
    "sim_prototypes" ->
      s"""WITH $kmeansCtes,
          scored AS (
            SELECT a.vec_id, a.cell_id,
                   ${cosSql("a.embedding", "c.cv")} AS cc
            FROM assign3 a JOIN cent2 c ON c.c = a.cell_id),
          r AS (
            SELECT vec_id, cell_id, cc,
                   row_number() OVER (PARTITION BY cell_id
                     ORDER BY cc DESC, vec_id) AS rank
            FROM scored)
         SELECT vec_id, cell_id, CAST(rank AS BIGINT) AS rank,
                round(cc, 6) AS centroid_cos
         FROM r WHERE rank <= 10 ORDER BY cell_id, rank""",
    "dedup_semantic" ->
      s"""WITH $kmeansCtes,
          dom AS (
            SELECT DISTINCT b.vec_id
            FROM assign3 a JOIN assign3 b
              ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
            WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35)
         SELECT a.vec_id, a.cell_id, (d.vec_id IS NULL) AS kept
         FROM assign3 a LEFT JOIN dom d ON d.vec_id = a.vec_id
         ORDER BY a.vec_id""",
    "emb_standardize" ->
      """WITH d AS (
           SELECT vec_id, i.range AS dim,
                  CAST(embedding[CAST(i.range + 1 AS INTEGER)] AS DOUBLE) AS v
           FROM embeddings, range(64) i),
         st AS (
           SELECT dim, count(*) AS n,
                  CAST(sum(CAST(v AS DECIMAL(38, 12))) AS DOUBLE) AS s1,
                  CAST(sum(CAST(v * v AS DECIMAL(38, 12))) AS DOUBLE) AS s2
           FROM d GROUP BY dim),
         ms AS (
           SELECT dim, s1 / n AS mean,
                  sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS std
           FROM st)
         SELECT d.vec_id, d.dim,
                round(CASE WHEN ms.std = 0 THEN 0
                           ELSE (d.v - ms.mean) / ms.std END, 6) AS zval
         FROM d JOIN ms USING (dim)
         ORDER BY vec_id, dim""",
    "emb_quantize" ->
      """WITH q AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
                    AS scale
           FROM embeddings WHERE vec_id < 100)
         SELECT vec_id, i.range AS dim, round(scale, 9) AS scale,
                CASE WHEN scale = 0 THEN 0
                     ELSE CAST(round(CAST(embedding[CAST(i.range + 1 AS INTEGER)] AS DOUBLE)
                               / scale, 0) AS INTEGER) END AS qval
         FROM q, range(64) i
         ORDER BY vec_id, dim""",
    "corpus_pipeline" -> (s"WITH $pipelineHeadCtes," +
      s"""
         smp AS (
           SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5('b:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 4
                    AS block
           FROM k
           WHERE CAST(('0x' || substr(md5('s:pipe:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                 / 16777216.0 < 0.5)
         $packTailSql"""),
    // the span_mask stage inserted after exact dedup (CuratePipeline's
    // maskSpans seam, r12 verdict #4): the masked REBUILT text feeds the
    // pack, so n_tokens is each survivor's kept-token count
    "corpus_pipeline_spanmask" -> (s"WITH $pipelineHeadCtes," +
      " cur AS (SELECT d.doc_id, d.text FROM documents d JOIN k ON k.doc_id = d.doc_id),\n" +
      spanChainBody("cur") +
      s""",
         keeper AS (SELECT shingle, min(doc_id * 1048576 + pos) AS kk FROM occ GROUP BY shingle),
         mocc AS (SELECT o.doc_id, o.pos FROM occ o JOIN keeper kp ON o.shingle = kp.shingle
                  WHERE o.doc_id * 1048576 + o.pos <> kp.kk),
         mpos0 AS (SELECT doc_id, unnest(range(pos, pos + 8)) AS t FROM mocc),
         mpos AS (SELECT DISTINCT doc_id, t FROM mpos0),
         wtl AS (SELECT doc_id, list_transform(range(len(w)), i -> {'t': i, 'tok': w[i + 1]}) AS l
                 FROM toks),
         wt0 AS (SELECT doc_id, unnest(l) AS u FROM wtl),
         wt AS (SELECT doc_id, u.t AS t, u.tok AS tok FROM wt0),
         keptt AS (SELECT w.doc_id, w.t, w.tok FROM wt w
                   LEFT JOIN mpos m ON m.doc_id = w.doc_id AND m.t = w.t
                   WHERE m.doc_id IS NULL),
         reb AS (SELECT doc_id, count(*) AS kept_tokens FROM keptt GROUP BY doc_id),
         smp AS (
           SELECT doc_id, CAST(kept_tokens AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5('b:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 4
                    AS block
           FROM reb
           WHERE kept_tokens > 0
             AND CAST(('0x' || substr(md5('s:pipe:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                 / 16777216.0 < 0.5)
         $packTailSql"""),
    "mm_frames" ->
      """WITH b AS (
           SELECT doc_id, text,
                  CAST(octet_length(encode(text)) AS BIGINT) AS bl
           FROM documents),
         n AS (SELECT doc_id, text, greatest(1, bl // 128) AS nf FROM b),
         fr AS (SELECT doc_id, text, unnest(range(0, nf)) AS frame_idx FROM n)
         SELECT doc_id, frame_idx,
                substr(text, CAST(frame_idx * 128 + 1 AS INTEGER), 32) AS frame_text
         FROM fr ORDER BY doc_id, frame_idx""",
    "corpus_length_buckets" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT least(n_tokens // 64, 7) AS bucket,
                count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM t GROUP BY 1 ORDER BY bucket""",
    "corpus_length_equidepth" ->
      """WITH r AS (
           SELECT doc_id, n_chars,
                  row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
                  count(*) OVER () AS n
           FROM documents)
         SELECT doc_id, n_chars,
                CAST(floor(CAST(rn - 1 AS DOUBLE) * 8 / n) AS BIGINT) AS bucket
         FROM r ORDER BY doc_id""",
    "mm_binary_meta" ->
      """SELECT doc_id, 'text/plain' AS media_type,
                CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                sha256(text) AS sha256
         FROM documents ORDER BY doc_id""",
    // closed-form expectations of the synth->decode roundtrip (text is
    // pure ASCII, so byte i of the utf-8 payload = ascii(char i))
    "mm_features" ->
      """WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
         bmp AS (
           SELECT doc_id, 'image/bmp' AS media_type,
                  4 + n % 29 AS w, CAST(4 + doc_id % 13 AS INTEGER) AS h, n, text
           FROM base WHERE doc_id % 2 = 0),
         bmp_out AS (
           SELECT doc_id, media_type,
                  CAST(54 + h * ((w * 3 + 3) // 4 * 4) AS BIGINT) AS byte_len,
                  CAST(w AS INTEGER) AS width, h AS height,
                  CAST(NULL AS INTEGER) AS sample_rate, CAST(NULL AS BIGINT) AS n_samples,
                  round(list_avg(list_transform(range(0, w * 3 * h),
                        i -> ascii(substr(text, CAST(i % n AS INTEGER) + 1, 1)))), 6) AS f0
           FROM bmp),
         wav AS (
           SELECT doc_id, 'audio/wav' AS media_type,
                  CAST(8000 + (doc_id % 5) * 1000 AS INTEGER) AS rate,
                  50 + n % 200 AS ns, n, text
           FROM base WHERE doc_id % 2 = 1),
         wav_out AS (
           SELECT doc_id, media_type,
                  CAST(44 + ns * 2 AS BIGINT) AS byte_len,
                  CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
                  rate AS sample_rate, CAST(ns AS BIGINT) AS n_samples,
                  round(list_avg(list_transform(range(0, ns),
                        i -> abs((ascii(substr(text, CAST(i % n AS INTEGER) + 1, 1)) - 64) * 256))), 6) AS f0
           FROM wav)
         SELECT * FROM bmp_out UNION ALL SELECT * FROM wav_out ORDER BY doc_id""",
    // Y4M roundtrip replay: geometry from the synth closed forms,
    // per-frame mean luma over the text-derived Y plane
    "mm_video_frames" ->
      """WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
         p AS (
           SELECT doc_id, text, n,
                  4 + 2 * (n % 4) AS w,
                  CAST(4 + 2 * (doc_id % 3) AS INTEGER) AS h,
                  3 + n % 5 AS nf
           FROM base),
         fr AS (
           SELECT doc_id, text, n, w, h, nf,
                  unnest(range(0, nf)) AS frame_idx
           FROM p)
         SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                CAST(w AS INTEGER) AS width, h AS height,
                CAST(25 AS INTEGER) AS fps_num, CAST(nf AS BIGINT) AS n_frames,
                round(list_avg(list_transform(range(0, w * h),
                  j -> ascii(substr(text,
                         CAST((frame_idx * w * h + j) % n AS INTEGER) + 1, 1)))), 6)
                  AS luma
         FROM fr ORDER BY doc_id, frame_idx""",
    // audio screening replay: samples from the synthWav closed form,
    // RMS/ZCR exact, the DFT centroid as nested list transforms with
    // the same integer funnel (magnitudes and frequency-weighted terms
    // floor(x+0.5)-quantized, centroid = exact-integer-sum ratio)
    "mm_audio_features" ->
      """WITH base AS (
           SELECT doc_id, text, length(text) AS n FROM documents
           WHERE doc_id % 2 = 1),
         w AS (
           SELECT doc_id,
                  CAST(8000 + (doc_id % 5) * 1000 AS INTEGER) AS rate,
                  50 + n % 200 AS ns,
                  list_transform(range(0, 50 + n % 200),
                    i -> (ascii(substr(text, CAST(i % n AS INTEGER) + 1, 1)) - 64) * 256)
                    AS s
           FROM base),
         feat AS (
           SELECT doc_id, rate, ns, s,
                  sqrt(list_sum(list_transform(s,
                    x -> CAST(x AS DOUBLE) * x)) / ns) / 32768.0 AS rms,
                  CAST(coalesce(list_sum(list_transform(range(1, ns),
                    i -> CASE WHEN s[CAST(i AS INTEGER)] * s[CAST(i + 1 AS INTEGER)] < 0
                         THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_zero_cross,
                  list_sum(list_transform(s,
                    x -> CASE WHEN abs(x) >= 32440 THEN 1 ELSE 0 END)) AS n_clip
           FROM w),
         spec AS (
           SELECT doc_id, rate, ns,
                  list_transform(range(1, ns // 2 + 1), k ->
                    CAST(floor(sqrt(
                      pow(list_sum(list_transform(range(0, ns), j ->
                        s[CAST(j + 1 AS INTEGER)]
                          * cos(2 * pi() * k * j / ns))), 2)
                    + pow(list_sum(list_transform(range(0, ns), j ->
                        s[CAST(j + 1 AS INTEGER)]
                          * sin(2 * pi() * k * j / ns))), 2)) + 0.5) AS BIGINT))
                    AS mags
           FROM w),
         cent AS (
           SELECT doc_id,
                  CASE WHEN coalesce(list_sum(mags), 0) = 0 THEN 0.0
                       ELSE CAST(list_sum(list_transform(range(1, len(mags) + 1),
                              k -> CAST(floor(CAST(k AS DOUBLE) * rate / ns
                                     * mags[CAST(k AS INTEGER)] + 0.5) AS BIGINT)))
                              AS DOUBLE)
                            / list_sum(mags) END AS centroid_hz
           FROM spec)
         SELECT f.doc_id, f.rate AS sample_rate, CAST(f.ns AS BIGINT) AS n_samples,
                round(f.rms, 6) AS rms, f.n_zero_cross,
                round(c.centroid_hz, 6) AS centroid_hz,
                f.rms < 0.001 AS is_silence,
                f.ns > 0 AND CAST(f.n_clip AS DOUBLE) / f.ns >= 0.01 AS is_clipped
         FROM feat f JOIN cent c USING (doc_id)
         ORDER BY doc_id""",
    // NN resize replay: flat index i over (row, col, channel) of the 8×6
    // output; source byte = text[(floor(r·h/6)·w·3 + floor(c·w/8)·3 + ch)
    // mod n] — the exact sampling resizeBmp performs, and the decoder's
    // mean over the resized container equals the mean over these samples
    "mm_resize" ->
      """WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
         bmp AS (
           SELECT doc_id, 4 + n % 29 AS w, CAST(4 + doc_id % 13 AS INTEGER) AS h, n, text
           FROM base WHERE doc_id % 2 = 0)
         SELECT doc_id,
                CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
                CAST(54 + 6 * ((8 * 3 + 3) // 4 * 4) AS BIGINT) AS byte_len,
                round(list_avg(list_transform(range(0, 6 * 8 * 3),
                  i -> ascii(substr(text,
                         CAST((((i // 24) * h // 6) * (w * 3)
                              + ((i % 24) // 3) * w // 8 * 3
                              + i % 3) % n AS INTEGER) + 1, 1)))), 6) AS f0
         FROM bmp ORDER BY doc_id""",
    // perceptual dedup: the 9×8 display-order luma grid of each synthetic
    // BMP in closed form (file rows are bottom-up -> grid row gy reads
    // file row h-1-(gy*h//8); BGR byte order -> luma 299R+587G+114B),
    // dHash bits, the SAME pigeonhole block keys as the Spark side, the
    // hot-bucket cap, and the two-stage hamming + grid-L1 verify. The 2×
    // NN-upscaled copy grids identically (floor-composition identity),
    // so the oracle instantiates each doc's grid under both ids instead
    // of replaying the resize.
    "mm_dedup" ->
      s"""WITH ${imageSigCtes("")},
         $dhashPairsSqlTail""",
    // dHash screen quality: banded pairs (the mm_dedup tail verbatim, as
    // a nested-WITH CTE) vs the exact all-pairs two-stage verify over
    // the SAME signature chain, bounded to the doc_id < 500 slice;
    // union-tag-aggregate like dedup_eval_lsh
    "mm_dedup_eval" ->
      s"""WITH ${imageSigCtes(" AND doc_id < 500")},
         banded AS (WITH $dhashPairsSqlTail),
         exact AS (
           SELECT x.id AS id_a, y.id AS id_b
           FROM sigs x JOIN sigs y ON x.id < y.id
           WHERE len(list_filter(range(0, 64), k ->
                   x.bits[CAST(k + 1 AS INTEGER)]
                     <> y.bits[CAST(k + 1 AS INTEGER)])) <= 3
             AND list_sum(list_transform(range(0, 72), i ->
                   abs(x.cells[CAST(i + 1 AS INTEGER)]
                       - y.cells[CAST(i + 1 AS INTEGER)]))) / 72.0 <= 12750.0),
         tagged AS (
           SELECT id_a, id_b, max(e) AS e, max(bn) AS bn FROM (
             SELECT id_a, id_b, 1 AS e, 0 AS bn FROM exact
             UNION ALL
             SELECT id_a, id_b, 0 AS e, 1 AS bn FROM banded)
           GROUP BY id_a, id_b)
         SELECT CAST(sum(e) AS BIGINT) AS n_exact,
                CAST(sum(bn) AS BIGINT) AS n_banded,
                CAST(sum(CASE WHEN e = 1 AND bn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_both,
                CASE WHEN sum(bn) > 0 THEN
                  round(CAST(sum(CASE WHEN e = 1 AND bn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                        / CAST(sum(bn) AS DOUBLE), 6) END AS prec,
                CASE WHEN sum(e) > 0 THEN
                  round(CAST(sum(CASE WHEN e = 1 AND bn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                        / CAST(sum(e) AS DOUBLE), 6) END AS rec
         FROM tagged""",
    // doc-level keep-list over the banded pairs: recursive transitive
    // closure, rep = min id of the component (units in no pair keep
    // self) — the dedup_cluster_reps oracle shape on the media family
    "mm_dedup_reps" ->
      s"""WITH RECURSIVE ${imageSigCtes("")},
         banded AS (WITH $dhashPairsSqlTail),
         edges AS (
           SELECT id_a AS a, id_b AS b FROM banded
           UNION ALL SELECT id_b AS a, id_a AS b FROM banded),
         tc AS (
           SELECT a, b FROM edges
           UNION SELECT tc.a, e2.b FROM tc JOIN edges e2 ON tc.b = e2.a)
         SELECT s.id AS doc_id, least(s.id, coalesce(min(t.b), s.id)) AS rep_id
         FROM sigs s LEFT JOIN tc t ON t.a = s.id
         GROUP BY s.id ORDER BY doc_id""",
    // video-frame perceptual dedup: frame f's luma plane is the text
    // bytes rotated by f·w·h mod n (top-down, no BMP flip; Y ×1000 to
    // share the image units), unit id = doc_id·16 + frame_idx; the
    // signature/banding/verify tail is shared verbatim with mm_dedup
    "mm_dedup_video" ->
      s"""WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
         v AS (SELECT doc_id, n, text, 4 + 2 * (n % 4) AS w,
                      CAST(4 + 2 * (doc_id % 3) AS INTEGER) AS h,
                      3 + n % 5 AS nf
               FROM base),
         frames AS (SELECT doc_id, n, text, w, h,
                           unnest(range(0, nf)) AS f
                    FROM v),
         grids AS (
           SELECT doc_id * 16 + f AS id,
                  list_transform(range(0, 72), g ->
                    1000 * ascii(substr(text,
                      CAST((f * w * h + ((g // 9) * h // 8) * w
                            + ((g % 9) * w // 9)) % n AS INTEGER) + 1, 1))
                  ) AS cells
           FROM frames),
         sigs AS (
           SELECT id, cells, $dhashBitsExpr AS bits
           FROM grids),
         $dhashPairsSqlTail""",
    // audio fingerprint dedup: sample i of an odd-id WAV is the int16
    // wrap of (byte(i mod n) − 64)·256; |samples| split into 72
    // floor-scaled windows, window energies normalized to the shared
    // 0..255000 grid scale; signature/banding/verify tail shared
    // verbatim with mm_dedup
    "mm_dedup_audio" ->
      s"""WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents
                       WHERE doc_id % 2 = 1),
         w AS (SELECT doc_id, n, text, 50 + n % 200 AS ns FROM base),
         samp AS (
           SELECT doc_id, ns,
                  list_transform(range(0, ns), i ->
                    abs((((ascii(substr(text, CAST(i % n AS INTEGER) + 1, 1))
                          - 64) * 256 + 32768) % 65536) - 32768)) AS a
           FROM w),
         env AS (
           SELECT doc_id,
                  list_transform(range(0, 72), i ->
                    coalesce(list_sum(list_slice(a,
                      CAST(i * ns // 72 + 1 AS INTEGER),
                      CAST((i + 1) * ns // 72 AS INTEGER))), 0)) AS e
           FROM samp),
         grids AS (
           SELECT doc_id,
                  CASE WHEN list_max(e) = 0
                       THEN list_transform(e, x -> CAST(0 AS BIGINT))
                       ELSE list_transform(e, x ->
                         CAST(x * 255000 // list_max(e) AS BIGINT)) END AS cells
           FROM env),
         sigs0 AS (SELECT doc_id, cells, $dhashBitsExpr AS bits FROM grids),
         sigs AS (
           SELECT doc_id AS id, cells, bits FROM sigs0
           UNION ALL
           SELECT doc_id + 1000002 AS id, cells, bits FROM sigs0),
         $dhashPairsSqlTail""",
    // BM25: same tokenization, Robertson idf, k1=1.2 b=0.75, decimal-
    // funneled score sum, (score DESC, doc_id) rank — mirrors
    // operators/Retrieval.scala term for term
    "retrieval_bm25" -> bm25TopkSql,
    "text_topics" -> textTopicsSql,
    // signed feature hashing (dim 32): portable md5 bucket + sign,
    // dense grid by left join, L2 norm as an ordered list fold, float
    // round-trip mirrored before rounding
    "text_hash_embed" ->
      s"""WITH ${hashEmbedCtes(32, "r7")}
         SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS dim_idx,
                round(CAST(u.x AS DOUBLE), 6) AS weight
         FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(fv) + 1),
                    i -> {'i': i, 'x': fv[CAST(i AS INTEGER)]})) AS u
           FROM hvec)
         ORDER BY doc_id, dim_idx""",
    // the full persisted-index hybrid serving path: chunker -> BM25 over
    // chunks -> hashEmbed over chunks AND queries (one union pass, query
    // ids sign-folded) -> unrolled Lloyd chain -> float-cast centroid
    // routing -> probe + exact-cosine top-k -> RRF fusion; every
    // fragment reused from its already-oracled twin (no-fork rule)
    "retrieval_pipeline_serve" -> {
      val rrfK = 10
      s"""WITH $retrieveChunkCtes,
         rqueries(query_id, qtext) AS (VALUES
             (0, 'hash join merge'),
             (1, 'stream window batch'),
             (2, 'vector scan filter sort')),
         rterms AS (
           SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM rqueries),
         rpost AS MATERIALIZED (
           SELECT chunk_id, token, count(*) AS tf FROM (
             SELECT chunk_id, unnest(string_split(chunk_text, ' ')) AS token
             FROM rchunks)
           WHERE token <> '' GROUP BY chunk_id, token),
         rdl AS (SELECT chunk_id, sum(tf) AS dl FROM rpost GROUP BY chunk_id),
         rstats AS (
           SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
           FROM rdl),
         rdfreq AS (SELECT token, count(*) AS df FROM rpost GROUP BY token),
         rscored AS (
           SELECT q.query_id, p.chunk_id,
                  sum(CAST(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                           * (p.tf * 2.2)
                           / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
                      AS DECIMAL(38, 12))) AS sd
           FROM rpost p JOIN rterms q ON p.token = q.term
           JOIN rdl d ON d.chunk_id = p.chunk_id
           JOIN rdfreq f ON f.token = p.token
           CROSS JOIN rstats s
           GROUP BY q.query_id, p.chunk_id),
         rlex AS (
           SELECT query_id, chunk_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY CAST(sd AS DOUBLE) DESC, chunk_id) AS rank
           FROM rscored),
         rembsrc AS (
           SELECT chunk_id AS doc_id, chunk_text AS text FROM rchunks
           UNION ALL
           SELECT CAST(-query_id - 1 AS BIGINT), qtext FROM rqueries),
         ${hashEmbedCtes(32, "rq", "rembsrc")},
         remb AS MATERIALIZED (
           SELECT doc_id AS vec_id, fv AS embedding FROM hvec WHERE doc_id >= 0),
         ${kmChainCtes(4, 2, materialize = true, src = "remb")},
         rcentf AS MATERIALIZED (
           SELECT c, list_transform(cv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cvf
           FROM cent2),
         rassigned AS MATERIALIZED (
           SELECT vec_id, embedding, c AS cell_id FROM (
             SELECT e.vec_id, e.embedding, s.c,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "s.cvf")} DESC, s.c) AS rn
             FROM remb e CROSS JOIN rcentf s)
           WHERE rn = 1),
         rqvec AS (
           SELECT -doc_id - 1 AS query_id, fv AS q_vec FROM hvec WHERE doc_id < 0),
         rqprobe AS (
           SELECT query_id, q_vec, cell_id FROM (
             SELECT e.query_id, e.q_vec, s.c AS cell_id,
                    row_number() OVER (PARTITION BY e.query_id
                      ORDER BY ${cosSql("e.q_vec", "s.cvf")} DESC, s.c) AS rn
             FROM rqvec e CROSS JOIN rcentf s)
           WHERE rn <= 2),
         rvscored AS (
           SELECT q.query_id, a.vec_id AS chunk_id,
                  ${cosSql("q.q_vec", "a.embedding")} AS c
           FROM rqprobe q JOIN rassigned a ON a.cell_id = q.cell_id),
         rvec AS (
           SELECT query_id, chunk_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY c DESC, chunk_id) AS rank
           FROM rvscored),
         ru AS (
           SELECT query_id, chunk_id, 1.0 / (60 + rank) AS rrf_term
           FROM rlex WHERE rank <= $rrfK
           UNION ALL
           SELECT query_id, chunk_id, 1.0 / (60 + rank) AS rrf_term
           FROM rvec WHERE rank <= $rrfK),
         rfused AS (
           SELECT query_id, chunk_id, sum(rrf_term) AS rrf,
                  CAST(count(*) AS BIGINT) AS n_sources
           FROM ru GROUP BY query_id, chunk_id),
         rranked AS (
           SELECT query_id, chunk_id, rrf, n_sources,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, chunk_id) AS rank
           FROM rfused)
       SELECT CAST(query_id AS BIGINT) AS query_id, rank, chunk_id,
              CAST(chunk_id // 1048576 AS BIGINT) AS doc_id,
              round(rrf, 6) AS rrf, n_sources
       FROM rranked WHERE rank <= $rrfK ORDER BY query_id, rank"""
    },
    // GROWTH lane: build-on-half + append-half served at nprobe = nlist
    // is bit-identical to the one-shot full-corpus stack (exhaustive
    // probes are centroid-independent; RetrievePipelineSpec), so the
    // oracle is the serve chain with the kmeans/routing CTEs replaced
    // by the exact all-pairs cosine top-k — every other fragment
    // shared verbatim (no-fork rule)
    "retrieval_pipeline_append" -> {
      val rrfK = 10
      s"""WITH $retrieveChunkCtes,
         rqueries(query_id, qtext) AS (VALUES
             (0, 'hash join merge'),
             (1, 'stream window batch'),
             (2, 'vector scan filter sort')),
         rterms AS (
           SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM rqueries),
         rpost AS MATERIALIZED (
           SELECT chunk_id, token, count(*) AS tf FROM (
             SELECT chunk_id, unnest(string_split(chunk_text, ' ')) AS token
             FROM rchunks)
           WHERE token <> '' GROUP BY chunk_id, token),
         rdl AS (SELECT chunk_id, sum(tf) AS dl FROM rpost GROUP BY chunk_id),
         rstats AS (
           SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
           FROM rdl),
         rdfreq AS (SELECT token, count(*) AS df FROM rpost GROUP BY token),
         rscored AS (
           SELECT q.query_id, p.chunk_id,
                  sum(CAST(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                           * (p.tf * 2.2)
                           / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
                      AS DECIMAL(38, 12))) AS sd
           FROM rpost p JOIN rterms q ON p.token = q.term
           JOIN rdl d ON d.chunk_id = p.chunk_id
           JOIN rdfreq f ON f.token = p.token
           CROSS JOIN rstats s
           GROUP BY q.query_id, p.chunk_id),
         rlex AS (
           SELECT query_id, chunk_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY CAST(sd AS DOUBLE) DESC, chunk_id) AS rank
           FROM rscored),
         rembsrc AS (
           SELECT chunk_id AS doc_id, chunk_text AS text FROM rchunks
           UNION ALL
           SELECT CAST(-query_id - 1 AS BIGINT), qtext FROM rqueries),
         ${hashEmbedCtes(32, "rq", "rembsrc")},
         remb AS MATERIALIZED (
           SELECT doc_id AS vec_id, fv AS embedding FROM hvec WHERE doc_id >= 0),
         rqvec AS (
           SELECT -doc_id - 1 AS query_id, fv AS q_vec FROM hvec WHERE doc_id < 0),
         rvscored AS (
           SELECT q.query_id, a.vec_id AS chunk_id,
                  ${cosSql("q.q_vec", "a.embedding")} AS c
           FROM rqvec q CROSS JOIN remb a),
         rvec AS (
           SELECT query_id, chunk_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY c DESC, chunk_id) AS rank
           FROM rvscored),
         ru AS (
           SELECT query_id, chunk_id, 1.0 / (60 + rank) AS rrf_term
           FROM rlex WHERE rank <= $rrfK
           UNION ALL
           SELECT query_id, chunk_id, 1.0 / (60 + rank) AS rrf_term
           FROM rvec WHERE rank <= $rrfK),
         rfused AS (
           SELECT query_id, chunk_id, sum(rrf_term) AS rrf,
                  CAST(count(*) AS BIGINT) AS n_sources
           FROM ru GROUP BY query_id, chunk_id),
         rranked AS (
           SELECT query_id, chunk_id, rrf, n_sources,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, chunk_id) AS rank
           FROM rfused)
       SELECT CAST(query_id AS BIGINT) AS query_id, rank, chunk_id,
              CAST(chunk_id // 1048576 AS BIGINT) AS doc_id,
              round(rrf, 6) AS rrf, n_sources
       FROM rranked WHERE rank <= $rrfK ORDER BY query_id, rank"""
    },
    // RRF fusion of the two already-oracled top-k chains over the shared
    // id space; 1/(60+rank) terms, 2-element double sums, doc-id ties
    "retrieval_hybrid_rrf" ->
      s"""WITH lx AS ($bm25TopkSql),
         vx AS (${bruteforceTopkSql(3, 10)}),
         u AS (
           SELECT query_id, doc_id AS doc, 1.0 / (60 + rank) AS rrf_term FROM lx
           UNION ALL
           SELECT query_id, neighbor_id AS doc, 1.0 / (60 + rank) AS rrf_term FROM vx),
         fused AS (
           SELECT query_id, doc, sum(rrf_term) AS rrf,
                  CAST(count(*) AS BIGINT) AS n_sources
           FROM u GROUP BY query_id, doc),
         ranked AS (
           SELECT query_id, doc, rrf, n_sources,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, doc) AS rank
           FROM fused)
       SELECT query_id, rank, doc AS doc_id, round(rrf, 6) AS rrf, n_sources
       FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    // bigram LM with add-one smoothing: train on doc_id % 4 <> 0, score
    // the held-out quarter — mirrors operators/LanguageModel.scala
    "text_pmi" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
         b AS (
           SELECT w[i] AS w1, w[i + 1] AS w2
           FROM toks, unnest(range(1, len(w))) AS t(i)),
         c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY w1, w2),
         c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY w1),
         c1r AS (SELECT w2, CAST(count(*) AS BIGINT) AS c1r FROM b GROUP BY w2),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b)
         SELECT w1, w2, c2, pmi FROM (
           SELECT c2.w1 AS w1, c2.w2 AS w2, c2.c2 AS c2,
                  round(ln(CAST(c2.c2 AS DOUBLE) * n.n
                        / (CAST(c1.c1 AS DOUBLE) * c1r.c1r)), 6) AS pmi
           FROM c2 JOIN c1 USING (w1) JOIN c1r USING (w2) CROSS JOIN n
           WHERE c2.c2 >= 5)
         ORDER BY pmi DESC, w1, w2 LIMIT 20""",
    // greedy next-token: same tokenization CTEs as lm_perplexity; the
    // context top-10 and per-context argmax tie-break on the token
    "lm_next_token" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
         tb AS (
           SELECT w[i] AS w1, w[i + 1] AS w2
           FROM toks, unnest(range(1, len(w))) AS t(i)),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM tb GROUP BY w1, w2),
         c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
         topctx AS (
           SELECT w1, c1, row_number() OVER (ORDER BY c1 DESC, w1) AS cr FROM c1),
         best AS (
           SELECT w1, w2, c2, row_number() OVER (PARTITION BY w1
                                                 ORDER BY c2 DESC, w2) AS rn
           FROM c2)
         SELECT t.w1, t.c1 AS n_ctx, b.w2 AS next_tok, b.c2 AS n_pair,
                round(CAST(b.c2 AS DOUBLE) / CAST(t.c1 AS DOUBLE), 6) AS p_next
         FROM topctx t JOIN best b ON t.w1 = b.w1 AND b.rn = 1
         WHERE t.cr <= 10 ORDER BY t.w1""",
    "lm_perplexity" ->
      """WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
         sd AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
         ttoks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM train),
         tb AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
           FROM ttoks, unnest(range(1, len(w))) AS t(i)),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM tb GROUP BY w1, w2),
         c1 AS (SELECT w1, count(*) AS c1 FROM tb GROUP BY w1),
         v AS (
           SELECT count(DISTINCT token) AS v FROM (
             SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
             FROM train)),
         stoks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM sd),
         sb AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
           FROM stoks, unnest(range(1, len(w))) AS t(i)),
         lp AS (
           SELECT sb.doc_id,
                  ln((coalesce(c2.c2, 0) + 1.0) / (coalesce(c1.c1, 0) + v.v)) AS lp
           FROM sb LEFT JOIN c2 ON sb.w1 = c2.w1 AND sb.w2 = c2.w2
                   LEFT JOIN c1 ON sb.w1 = c1.w1
                   CROSS JOIN v),
         agg AS (
           SELECT doc_id, count(*) AS n_bigrams,
                  -CAST(sum(CAST(lp AS DECIMAL(38, 12))) AS DOUBLE) / count(*) AS nll
           FROM lp GROUP BY doc_id)
       SELECT doc_id, n_bigrams, round(nll, 6) AS avg_nll,
              round(exp(nll), 4) AS perplexity
       FROM agg ORDER BY doc_id""") +
    // the KN perplexity chain + one exact-percentile boundary + the
    // map-only keep decision (quantile_cont parity, the a6/ev_rfm pattern)
    ("corpus_filter_perplexity" ->
      """WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
         sd AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
         ttoks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM train),
         tb AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
           FROM ttoks, unnest(range(1, len(w))) AS t(i)),
         c2 AS MATERIALIZED (SELECT w1, w2, count(*) AS c2 FROM tb GROUP BY w1, w2),
         c1 AS (SELECT w1, count(*) AS c1 FROM tb GROUP BY w1),
         n1p AS (SELECT w1, count(*) AS n1p FROM c2 GROUP BY w1),
         n1c AS (SELECT w2, count(*) AS n1c FROM c2 GROUP BY w2),
         tt AS (SELECT count(*) AS t FROM c2),
         v AS (
           SELECT count(DISTINCT token) AS v FROM (
             SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
             FROM train)),
         stoks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM sd),
         sb AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
           FROM stoks, unnest(range(1, len(w))) AS t(i)),
         lp AS (
           SELECT sb.doc_id,
                  ln(CASE WHEN c1.c1 IS NULL
                     THEN (coalesce(n1c.n1c, 0) + 1.0) / (tt.t + v.v + 1.0)
                     ELSE greatest(coalesce(c2.c2, 0) - 0.75, 0.0) / c1.c1
                          + 0.75 * n1p.n1p / c1.c1
                            * ((coalesce(n1c.n1c, 0) + 1.0) / (tt.t + v.v + 1.0))
                     END) AS lp
           FROM sb LEFT JOIN c2 ON sb.w1 = c2.w1 AND sb.w2 = c2.w2
                   LEFT JOIN c1 ON sb.w1 = c1.w1
                   LEFT JOIN n1p ON sb.w1 = n1p.w1
                   LEFT JOIN n1c ON sb.w2 = n1c.w2
                   CROSS JOIN v CROSS JOIN tt),
         scored AS MATERIALIZED (
           SELECT doc_id,
                  round(exp(-CAST(sum(CAST(lp AS DECIMAL(38, 12))) AS DOUBLE)
                        / count(*)), 4) AS perplexity
           FROM lp GROUP BY doc_id),
         bound AS (SELECT quantile_cont(perplexity, 0.75) AS p75 FROM scored)
       SELECT doc_id, perplexity, perplexity <= bound.p75 AS kept
       FROM scored, bound ORDER BY doc_id""") +
    // stupid backoff (Brants 2007) at trigram order: count ratios with
    // a fixed alpha; branch order and arithmetic mirrored term for term
    ("lm_perplexity_trigram" ->
      """WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
         sd AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
         ttoks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM train),
         uni AS MATERIALIZED (
           SELECT t, count(*) AS c1 FROM (SELECT unnest(w) AS t FROM ttoks) GROUP BY t),
         bi AS MATERIALIZED (
           SELECT w[i] AS a, w[i + 1] AS b, count(*) AS c2
           FROM ttoks, unnest(range(1, len(w))) AS t(i) GROUP BY a, b),
         tri AS MATERIALIZED (
           SELECT w[i] AS a, w[i + 1] AS b, w[i + 2] AS c, count(*) AS c3
           FROM ttoks, unnest(range(1, len(w) - 1)) AS t(i) GROUP BY a, b, c),
         nn AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uni),
         stoks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM sd),
         st AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
           FROM stoks, unnest(range(1, len(w) - 1)) AS t(i)),
         lp AS (
           SELECT st.doc_id,
                  ln(CASE
                     WHEN t.c3 IS NOT NULL
                       THEN CAST(t.c3 AS DOUBLE) / CAST(bc.c2 AS DOUBLE)
                     WHEN bb.c2 IS NOT NULL
                       THEN 0.4 * (CAST(bb.c2 AS DOUBLE) / CAST(um.c1 AS DOUBLE))
                     WHEN ul.c1 IS NOT NULL
                       THEN 0.4 * 0.4 * (CAST(ul.c1 AS DOUBLE) / CAST(nn.n AS DOUBLE))
                     ELSE 0.4 * 0.4 / CAST(nn.n AS DOUBLE) END) AS lp
           FROM st LEFT JOIN tri t ON st.w1 = t.a AND st.w2 = t.b AND st.w3 = t.c
                   LEFT JOIN bi bc ON st.w1 = bc.a AND st.w2 = bc.b
                   LEFT JOIN bi bb ON st.w2 = bb.a AND st.w3 = bb.b
                   LEFT JOIN uni um ON st.w2 = um.t
                   LEFT JOIN uni ul ON st.w3 = ul.t
                   CROSS JOIN nn),
         agg AS (
           SELECT doc_id, count(*) AS n_trigrams,
                  -CAST(sum(CAST(lp AS DECIMAL(38, 12))) AS DOUBLE) / count(*) AS nll
           FROM lp GROUP BY doc_id)
       SELECT doc_id, n_trigrams, round(nll, 6) AS avg_nll,
              round(exp(nll), 4) AS perplexity
       FROM agg ORDER BY doc_id""") +
    // interpolated Kneser-Ney at bigram order: the lm_perplexity chain
    // plus the three c2 rollups (n1p/n1c/T); expression order mirrors
    // LanguageModel.scoreBigramKN term for term (double determinism)
    ("lm_perplexity_kn" ->
      """WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
         sd AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
         ttoks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM train),
         tb AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
           FROM ttoks, unnest(range(1, len(w))) AS t(i)),
         c2 AS MATERIALIZED (SELECT w1, w2, count(*) AS c2 FROM tb GROUP BY w1, w2),
         c1 AS (SELECT w1, count(*) AS c1 FROM tb GROUP BY w1),
         n1p AS (SELECT w1, count(*) AS n1p FROM c2 GROUP BY w1),
         n1c AS (SELECT w2, count(*) AS n1c FROM c2 GROUP BY w2),
         tt AS (SELECT count(*) AS t FROM c2),
         v AS (
           SELECT count(DISTINCT token) AS v FROM (
             SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
             FROM train)),
         stoks AS (
           SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM sd),
         sb AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
           FROM stoks, unnest(range(1, len(w))) AS t(i)),
         lp AS (
           SELECT sb.doc_id,
                  ln(CASE WHEN c1.c1 IS NULL
                     THEN (coalesce(n1c.n1c, 0) + 1.0) / (tt.t + v.v + 1.0)
                     ELSE greatest(coalesce(c2.c2, 0) - 0.75, 0.0) / c1.c1
                          + 0.75 * n1p.n1p / c1.c1
                            * ((coalesce(n1c.n1c, 0) + 1.0) / (tt.t + v.v + 1.0))
                     END) AS lp
           FROM sb LEFT JOIN c2 ON sb.w1 = c2.w1 AND sb.w2 = c2.w2
                   LEFT JOIN c1 ON sb.w1 = c1.w1
                   LEFT JOIN n1p ON sb.w1 = n1p.w1
                   LEFT JOIN n1c ON sb.w2 = n1c.w2
                   CROSS JOIN v CROSS JOIN tt),
         agg AS (
           SELECT doc_id, count(*) AS n_bigrams,
                  -CAST(sum(CAST(lp AS DECIMAL(38, 12))) AS DOUBLE) / count(*) AS nll
           FROM lp GROUP BY doc_id)
       SELECT doc_id, n_bigrams, round(nll, 6) AS avg_nll,
              round(exp(nll), 4) AS perplexity
       FROM agg ORDER BY doc_id""")

  // ---- retrieval & LM quality scoring ------------------------------------

  /** The literal query set for [[retrievalBm25]] — (query_id, term) rows,
    * mirrored verbatim in the oracle's VALUES list.
    */
  private val bm25QueryTerms: Seq[(Long, String)] = Seq(
    0L -> "hash", 0L -> "join", 0L -> "merge",
    1L -> "stream", 1L -> "window", 1L -> "batch",
    2L -> "vector", 2L -> "scan", 2L -> "filter", 2L -> "sort")

  def retrievalBm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = bm25QueryTerms.toDF("query_id", "term")
    Retrieval.bm25TopK(docs(s, dir), "text", "doc_id", terms, k = 10)
      .orderBy("query_id", "rank")
  }

  /** BM25 answered from the PERSISTED inverted index
    * ([[graft.operators.Retrieval.buildBm25Index]]): postings, doc
    * lengths, document frequencies and corpus scalars written once,
    * every query scored from the written tables — same parameters as
    * retrieval_bm25 and the same oracle VERBATIM (the
    * persistence-boundary-invariance contract the ANN indexes
    * established, applied to the lexical index).
    */
  def retrievalBm25Persisted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_idx").toString
    Retrieval.buildBm25Index(docs(s, dir), "text", "doc_id", s"$idx/bm25")
    val terms = bm25QueryTerms.toDF("query_id", "term")
    Retrieval.bm25TopKFromIndex(s, s"$idx/bm25", terms, k = 10)
      .orderBy("query_id", "rank")
  }

  /** The INCREMENTAL BM25 index exercised through its real lifecycle:
    * half the corpus builds the index, the other half APPENDS as a
    * second ingest (per-ingest doc_freq/stats partials — O(batch), no
    * derived-table rewrite), and the query answers from the merged
    * partials. The oracle is the whole-corpus bm25 SQL VERBATIM — the
    * split-ingest invariance statement: additive df/N/avgdl make two
    * ingests indistinguishable from one build.
    */
  def retrievalBm25Incremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_incr").toString
    val d = docs(s, dir)
    Retrieval.buildBm25Incremental(
      d.filter(col("doc_id") % 2 === 0), "text", "doc_id", idx)
    Retrieval.appendBm25Incremental(s, idx,
      d.filter(col("doc_id") % 2 =!= 0), "text", "doc_id")
    val terms = bm25QueryTerms.toDF("query_id", "term")
    Retrieval.bm25TopKFromIncremental(s, idx, terms, k = 10)
      .orderBy("query_id", "rank")
  }

  /** Retraction AT INGEST — the composition the takedown scaladoc
    * argues for ([[graft.streaming.IncrementalStream.retractionIngest]]):
    * when the takedown list is known up front, filtering the BUILD's
    * input (one anti-join against the accumulated retraction table)
    * beats building and then retracting — the retracted docs never cost
    * index work at all, and nothing ever has to be un-served. The built
    * index is spec-pinned BIT-IDENTICAL to build-then-forget
    * (RetrievalLmSpec); the oracle is the whole bm25 chain over the
    * anti-joined corpus — retraction composes as a plain relational
    * filter, which is the point.
    */
  def retractionGatedBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val takedown = d.select(col("doc_id")).filter(col("doc_id") % 7 === 3)
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_gated").toString
    Retrieval.buildBm25Incremental(
      d.join(takedown, Seq("doc_id"), "left_anti"), "text", "doc_id", idx)
    val terms = bm25QueryTerms.toDF("query_id", "term")
    Retrieval.bm25TopKFromIncremental(s, idx, terms, k = 10)
      .orderBy("query_id", "rank")
  }

  /** The full hybrid-retrieval serving lifecycle as ONE oracled query:
    * [[graft.pipeline.RetrievePipeline.build]] (chunk → persisted BM25
    * index → hashed embeddings → persisted IVF index → meta commit)
    * then [[graft.pipeline.RetrievePipeline.query]] answering three
    * fixed queries purely from the written artifacts — pruned-postings
    * BM25 ⊕ partition-pruned ANN probes, RRF-fused, chunk ids carrying
    * the parent doc. The oracle replays the ENTIRE composition: the
    * chunker, BM25 over chunks, the hashEmbed bridge over chunks and
    * queries (one union pass, query ids sign-folded exactly like the
    * Spark side), the unrolled Lloyd chain, float-cast centroid
    * routing, probe + exact cosine top-k, and the RRF fusion.
    */
  /** One lifecycle, two board entries (r9 verdict item #6): the 8-second
    * combined query charged a one-time BUILD to every serve measurement,
    * hiding serve-path regressions inside build noise. `_build` runs the
    * full artifact build fresh on every invocation and reports the
    * per-stage row counts (each independently oracled); `_serve` answers
    * the three fixed queries from the artifacts the LAST build left
    * behind (building once if none exists — query-map iteration order is
    * not guaranteed), so its bench number is the warm serving path the
    * production system actually pays per request. The build is
    * deterministic, so WHICH build serves is immaterial (spec-pinned
    * bit-identical repeat queries); Bench's sorted query order runs
    * _build first anyway.
    */
  private val retrieveBuilt = scala.collection.mutable.Map.empty[String, String]

  private def buildRetrieveArtifacts(s: SparkSession, dir: String):
      (String, Seq[graft.pipeline.RetrievePipeline.Stage]) = {
    val idx = java.nio.file.Files.createTempDirectory("graft_retrieve_q").toString
    val stages = graft.pipeline.RetrievePipeline.build(docs(s, dir), "text",
      "doc_id", idx, chunkTokens = 32, stride = 32, dim = 32, salt = "rq",
      nlist = 4, iters = 2)
    synchronized { retrieveBuilt(dir) = idx }
    (idx, stages)
  }

  def retrievalPipelineBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildRetrieveArtifacts(s, dir)._2.toDF()
      .select(col("stage"), col("rows").as("n_rows")).orderBy("stage")
  }

  def retrievalPipelineServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = synchronized { retrieveBuilt.get(dir) } match {
      case Some(d) => d
      case None => buildRetrieveArtifacts(s, dir)._1
    }
    graft.pipeline.RetrievePipeline.query(s, idx,
        retrievalPipelineQueries.toDF("query_id", "text"), k = 10, nprobe = 2)
      .orderBy("query_id", "rank")
  }

  /** GROWTH as a board query (r11 verdict #5): build the stack on the
    * even half, grow it over the odd half through
    * [[graft.pipeline.RetrievePipeline.append]] (doc gate, BM25 ingest
    * partition, frozen-centroid ANN append, staged chunk commit), and
    * serve the three fixed queries at nprobe = nlist. The exhaustive
    * probe set makes serving CENTROID-INDEPENDENT (the grown stack and
    * a one-shot full-corpus build serve bit-identically —
    * RetrievePipelineSpec pins it), so the oracle is the full-corpus
    * serve chain with the kmeans/routing CTEs replaced by the exact
    * all-pairs cosine top-k; every other fragment is shared verbatim
    * with `retrieval_pipeline_serve`. A regression anywhere in the
    * growth lane (gate, ingest key, anti-joins, chunk commit) now
    * surfaces as a board failure instead of staying spec-only.
    */
  def retrievalPipelineAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft_retrieve_ap").toString
    graft.pipeline.RetrievePipeline.build(d.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", idx, chunkTokens = 32, stride = 32, dim = 32,
      salt = "rq", nlist = 4, iters = 2)
    graft.pipeline.RetrievePipeline.append(
      d.filter(col("doc_id") % 2 =!= 0), "text", "doc_id", idx)
    graft.pipeline.RetrievePipeline.query(s, idx,
        retrievalPipelineQueries.toDF("query_id", "text"), k = 10, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  private val retrievalPipelineQueries: Seq[(Long, String)] = Seq(
    (0L, "hash join merge"),
    (1L, "stream window batch"),
    (2L, "vector scan filter sort"))

  /** Train a bigram LM on 3/4 of the corpus, score the held-out quarter —
    * the CCNet-style perplexity quality filter as two aggregates + one
    * join (see operators/LanguageModel.scala).
    */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (c2, c1, v) = LanguageModel.trainBigram(
      d.filter(col("doc_id") % 4 =!= 0), "text", "doc_id")
    LanguageModel.scoreBigram(d.filter(col("doc_id") % 4 === 0),
        "text", "doc_id", c2, c1, v)
      .orderBy("doc_id")
  }

  /** Text → embedding via signed feature hashing (dim 32), exploded to
    * cell-exact rows — see [[Similarity.hashEmbed]].
    */
  def textHashEmbed(s: SparkSession, dir: String): DataFrame =
    Similarity.hashEmbed(docs(s, dir), "text", "doc_id", dim = 32, salt = "r7")
      .select(col("doc_id"),
        posexplode(col("embedding")).as(Seq("dim_idx", "weight")))
      .select(col("doc_id"), col("dim_idx").cast("long").as("dim_idx"),
        round(col("weight").cast("double"), 6).as("weight"))
      .orderBy("doc_id", "dim_idx")

  /** Fidelity of the text→embedding bridge AS a dedup signal:
    * precision/recall of the exact-cosine pair set on hashEmbed vectors
    * (τ=0.9) against the exact n-gram-Jaccard ground truth at the
    * established 0.30 threshold — the approximation-carries-its-
    * accuracy contract applied to the bridge itself (measured at
    * sf0.01: precision 0.862, recall 1.0 — the bag-of-words cosine
    * over-fires slightly on word-overlap pairs and misses nothing).
    * All-pairs cosine on the bounded 500-doc fixture slice (the
    * dedup_embedding_exact bound); production screens through the
    * SRP-bucketed operator instead.
    */
  def dedupEvalHashembed(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.cosine_similarity
    val d = docs(s, dir).filter(col("doc_id") < 500)
    val exact = Dedup.ngramJaccard(d, "text", "doc_id", k = 8,
        threshold = 0.30, maxDf = 100, portable = true)
      .select(col("id_a"), col("id_b"), lit(1).as("e"), lit(0).as("h"))
    val emb = Similarity.hashEmbed(d, "text", "doc_id", dim = 64, salt = "ev")
    val a = emb.select(col("doc_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("doc_id").as("id_b"), col("embedding").as("vb"))
    val hp = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cosine_similarity(col("va"), col("vb")))
      .filter(col("cosine") >= 0.9)
      .select(col("id_a"), col("id_b"), lit(0).as("e"), lit(1).as("h"))
    exact.unionByName(hp)
      .groupBy("id_a", "id_b")
      .agg(max(col("e")).as("e"), max(col("h")).as("h"))
      .agg(sum(col("e")).as("n_exact"), sum(col("h")).as("n_hash"),
        sum(when(col("e") === 1 && col("h") === 1, 1).otherwise(0)).as("n_both"))
      .select(col("n_exact"), col("n_hash"), col("n_both"),
        when(col("n_hash") > 0,
          round(col("n_both").cast("double") / col("n_hash").cast("double"), 6))
          .as("prec"),
        when(col("n_exact") > 0,
          round(col("n_both").cast("double") / col("n_exact").cast("double"), 6))
          .as("rec"))
  }

  /** Model-free topic discovery: k-means over the hashed text
    * embeddings (same dim/salt as text_hash_embed), clusters labeled by
    * top-5 within-cluster document-frequency tokens — see
    * [[graft.operators.Clustering.textTopics]].
    */
  def textTopics(s: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.textTopics(docs(s, dir), "text", "doc_id",
        dim = 32, k = 4, iters = 2, topn = 5, salt = "r7")
      .orderBy("cell_id", "rank")

  /** Hybrid retrieval: BM25 top-10 (the literal query-term sets) fused
    * with the exact vector top-10 of the SAME query ids (documents and
    * embeddings share the id space) by reciprocal-rank fusion — see
    * [[Retrieval.hybridRrf]].
    */
  def retrievalHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = bm25QueryTerms.toDF("query_id", "term")
    val lex = Retrieval.bm25TopK(docs(s, dir), "text", "doc_id", terms, k = 10)
    val e = embs(s, dir)
    val vec = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3),
      "embedding", "vec_id", k = 10)
    Retrieval.hybridRrf(lex, vec, k = 10).orderBy("query_id", "rank")
  }

  /** Kneser-Ney-smoothed perplexity over the same train/score split as
    * [[lmPerplexity]] (see [[LanguageModel.scoreBigramKN]]).
    */
  def lmPerplexityKn(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (c2, c1, v) = LanguageModel.trainBigram(
      d.filter(col("doc_id") % 4 =!= 0), "text", "doc_id")
    LanguageModel.scoreBigramKN(d.filter(col("doc_id") % 4 === 0),
        "text", "doc_id", c2, c1, v)
      .orderBy("doc_id")
  }

  /** Stupid-backoff trigram perplexity over the same train/score split
    * (see [[LanguageModel.scoreTrigramStupidBackoff]]).
    */
  def lmPerplexityTrigram(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    LanguageModel.scoreTrigramStupidBackoff(
        d.filter(col("doc_id") % 4 =!= 0), d.filter(col("doc_id") % 4 === 0),
        "text", "doc_id")
      .orderBy("doc_id")
  }

  /** The CCNet loop CLOSED: the KN-perplexity filter actually
    * filtering — held-out docs kept iff their perplexity is at or under
    * the scored set's exact 75th percentile (Wenzek et al. 2020 keep
    * the head/middle of the perplexity distribution; this is that gate
    * at one threshold). The boundary is ONE exact-percentile aggregate
    * over the already-model-sized score table (a 1-row bounded collect
    * — the ev_rfm pattern; `approx_percentile` is the documented scale
    * path for the boundary, same a6 anchor/sketch split), and the keep
    * decision is a map-only comparison against the literal.
    */
  def corpusFilterPerplexity(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (c2, c1, v) = LanguageModel.trainBigram(
      d.filter(col("doc_id") % 4 =!= 0), "text", "doc_id")
    val scored = LanguageModel.scoreBigramKN(d.filter(col("doc_id") % 4 === 0),
        "text", "doc_id", c2, c1, v)
      .localCheckpoint(true) // boundary + keep list read it once each
    val p75 = scored.agg(percentile(col("perplexity"), lit(0.75)))
      .head().getDouble(0) // bounded: one scalar
    scored.select(col("doc_id"), col("perplexity"),
        (col("perplexity") <= lit(p75)).as("kept"))
      .orderBy("doc_id")
  }

  /** Greedy next-token table of the bigram LM over the 10 most frequent
    * contexts (see [[LanguageModel.nextTokenTopK]]).
    */
  def lmNextToken(s: SparkSession, dir: String): DataFrame =
    LanguageModel.nextTokenTopK(docs(s, dir), "text", "doc_id", k = 10)
      .orderBy("w1")

  /** Top-20 PMI collocations over the full corpus (pairs seen ≥5 times). */
  def textPmi(s: SparkSession, dir: String): DataFrame =
    LanguageModel.pmiTopK(docs(s, dir), "text", "doc_id", minCount = 5L, k = 20)
      .orderBy(col("pmi").desc, col("w1"), col("w2"))

  /** SimHash dedup quality: precision/recall of the hamming≤6 SimHash
    * pair set against the exact n-gram-Jaccard ground truth — the same
    * measured-accuracy contract dedup_eval_lsh gives MinHash-LSH, now
    * for the OTHER fuzzy approximation (SimHash approximates cosine of
    * term vectors, so its agreement with the Jaccard ground truth is a
    * property worth a number, not an assumption). Same
    * union-tag-aggregate shape.
    */
  def dedupEvalSimhash(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val exact = Dedup.ngramJaccard(d, "text", "doc_id", k = 8,
        threshold = 0.30, maxDf = 100, portable = true)
      .select(col("id_a"), col("id_b"), lit(1).as("e"), lit(0).as("sh"))
    val sim = Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 6,
        maxBucket = 1000, portable = true)
      .select(col("id_a"), col("id_b"), lit(0).as("e"), lit(1).as("sh"))
    exact.unionByName(sim)
      .groupBy("id_a", "id_b")
      .agg(max(col("e")).as("e"), max(col("sh")).as("sh"))
      .agg(sum(col("e")).as("n_exact"), sum(col("sh")).as("n_simhash"),
        sum(when(col("e") === 1 && col("sh") === 1, 1).otherwise(0)).as("n_both"))
      .select(col("n_exact"), col("n_simhash"), col("n_both"),
        when(col("n_simhash") > 0,
          round(col("n_both").cast("double") / col("n_simhash").cast("double"), 6))
          .as("prec"),
        when(col("n_exact") > 0,
          round(col("n_both").cast("double") / col("n_exact").cast("double"), 6))
          .as("rec"))
  }

  /** LSH dedup quality: precision/recall of the MinHash-LSH pair set
    * against the exact n-gram-Jaccard ground truth at the same threshold
    * — the dedup counterpart of sim_eval_recall (an approximate
    * algorithm is only trustworthy next to its measured accuracy).
    * Union-tag-aggregate instead of scalar cross-joins, so the plan has
    * no nested-loop shape; output is one summary row of exact integer
    * counts plus two deterministic divisions.
    */
  def dedupEvalLsh(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // ONE shingle explode + df-cap pass feeds BOTH pair sets: ngramJaccard
    // and minhashLsh over the same (docs, k=8, maxDf=100, portable) start
    // from the identical capped stream, so computing it twice was pure
    // waste (r15 — the dedup_incremental slice-sharing move applied here;
    // results unchanged, the operators' tails are shared verbatim)
    val kept = Dedup.cappedShingles(d, "text", "doc_id", k = 8, maxDf = 100,
      portable = true)
    val exact = Dedup.ngramJaccardFromKept(kept, "doc_id", threshold = 0.30)
      .select(col("id_a"), col("id_b"), lit(1).as("e"), lit(0).as("l"))
    val lsh = Dedup.minhashLshFromKept(kept, "doc_id", threshold = 0.30,
        bands = 8, rowsPerBand = 4, portable = true)
      .select(col("id_a"), col("id_b"), lit(0).as("e"), lit(1).as("l"))
    exact.unionByName(lsh)
      .groupBy("id_a", "id_b")
      .agg(max(col("e")).as("e"), max(col("l")).as("l"))
      .agg(sum(col("e")).as("n_exact"), sum(col("l")).as("n_lsh"),
        sum(when(col("e") === 1 && col("l") === 1, 1).otherwise(0)).as("n_both"))
      .select(col("n_exact"), col("n_lsh"), col("n_both"),
        // empty denominators -> NULL explicitly: double/0 semantics are
        // an engine-divergence trap (Spark Infinity vs whatever the
        // oracle engine does), so neither side ever evaluates it
        when(col("n_lsh") > 0,
          round(col("n_both").cast("double") / col("n_lsh").cast("double"), 6))
          .as("prec"),
        when(col("n_exact") > 0,
          round(col("n_both").cast("double") / col("n_exact").cast("double"), 6))
          .as("rec"))
  }

  /** The persisted-index query must reproduce the in-memory trained-IVF
    * result bit-for-bit (same centroid floats, same routing, same
    * scoring), so it shares that oracle verbatim — the same
    * one-semantics-two-plans sharing as decontaminate/_bloom. The LSH
    * quality eval composes the two already-oracled pair queries as CTEs.
    */
  val oracles: Map[String, String] =
    oraclesBase +
      ("sim_topk_ivf_persisted" -> oraclesBase("sim_topk_ivf_kmeans")) +
      ("sim_topk_ivf_bulk" -> oraclesBase("sim_topk_ivf_kmeans")) +
      ("retrieval_bm25_persisted" -> bm25TopkSql) +
      // split-ingest ≡ one-shot build: the incremental index shares the
      // whole-corpus oracle verbatim (additive df/N/avgdl)
      ("retrieval_bm25_incremental" -> bm25TopkSql) +
      // retraction-at-ingest: the gate is ONE anti-join on the build's
      // input, so the oracle is the same bm25 chain over the filtered
      // corpus — no index-side machinery to mirror
      ("retraction_gated_build" -> bm25TopkSqlOver(
        "(SELECT * FROM documents WHERE doc_id % 7 <> 3)")) +
      ("sim_topk_ivfadc_persisted" -> oraclesBase("sim_topk_ivfadc")) +
      ("dedup_eval_hashembed" ->
        // both chains bounded to the SAME 500-doc slice the Spark side
        // uses (df caps are side-local, so the exact pairs must be
        // computed WITHIN the slice, not filtered from the full corpus)
        s"""WITH ex AS (WITH ${shingleChainCtes("",
              "(SELECT * FROM documents WHERE doc_id < 500)", Some(100))}
              $jaccardPairsTail),
            ${hashEmbedCtes(64, "ev", "(SELECT * FROM documents WHERE doc_id < 500)")},
            hp AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM hvec a JOIN hvec b ON a.doc_id < b.doc_id
              WHERE ${cosSql("a.fv", "b.fv")} >= 0.9),
            tagged AS (
              SELECT id_a, id_b, max(e) AS e, max(h) AS h FROM (
                SELECT id_a, id_b, 1 AS e, 0 AS h FROM ex
                UNION ALL
                SELECT id_a, id_b, 0 AS e, 1 AS h FROM hp)
              GROUP BY id_a, id_b)
            SELECT CAST(sum(e) AS BIGINT) AS n_exact,
                   CAST(sum(h) AS BIGINT) AS n_hash,
                   CAST(sum(CASE WHEN e = 1 AND h = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_both,
                   CASE WHEN sum(h) > 0
                        THEN round(CAST(sum(CASE WHEN e = 1 AND h = 1 THEN 1 ELSE 0 END)
                               AS DOUBLE) / CAST(sum(h) AS DOUBLE), 6) END AS prec,
                   CASE WHEN sum(e) > 0
                        THEN round(CAST(sum(CASE WHEN e = 1 AND h = 1 THEN 1 ELSE 0 END)
                               AS DOUBLE) / CAST(sum(e) AS DOUBLE), 6) END AS rec
            FROM tagged""") +
      ("dedup_eval_lsh" ->
        s"""WITH ex AS (${oraclesBase("dedup_ngram_jaccard")}),
            ls AS (${oraclesBase("dedup_minhash_lsh")}),
            tagged AS (
              SELECT id_a, id_b, 1 AS e, 0 AS l FROM ex
              UNION ALL
              SELECT id_a, id_b, 0 AS e, 1 AS l FROM ls),
            per AS (SELECT id_a, id_b, max(e) AS e, max(l) AS l
                    FROM tagged GROUP BY id_a, id_b)
           SELECT CAST(sum(e) AS BIGINT) AS n_exact,
                  CAST(sum(l) AS BIGINT) AS n_lsh,
                  CAST(sum(CASE WHEN e = 1 AND l = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_both,
                  CASE WHEN sum(l) > 0 THEN
                    round(CAST(sum(CASE WHEN e = 1 AND l = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                          / CAST(sum(l) AS DOUBLE), 6) END AS prec,
                  CASE WHEN sum(e) > 0 THEN
                    round(CAST(sum(CASE WHEN e = 1 AND l = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                          / CAST(sum(e) AS DOUBLE), 6) END AS rec
           FROM per""") +
      ("dedup_eval_simhash" ->
        s"""WITH ex AS (${oraclesBase("dedup_ngram_jaccard")}),
            sh AS (${oraclesBase("dedup_simhash")}),
            tagged AS (
              SELECT id_a, id_b, 1 AS e, 0 AS s FROM ex
              UNION ALL
              SELECT id_a, id_b, 0 AS e, 1 AS s FROM sh),
            per AS (SELECT id_a, id_b, max(e) AS e, max(s) AS s
                    FROM tagged GROUP BY id_a, id_b)
           SELECT CAST(sum(e) AS BIGINT) AS n_exact,
                  CAST(sum(s) AS BIGINT) AS n_simhash,
                  CAST(sum(CASE WHEN e = 1 AND s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_both,
                  CASE WHEN sum(s) > 0 THEN
                    round(CAST(sum(CASE WHEN e = 1 AND s = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                          / CAST(sum(s) AS DOUBLE), 6) END AS prec,
                  CASE WHEN sum(e) > 0 THEN
                    round(CAST(sum(CASE WHEN e = 1 AND s = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                          / CAST(sum(e) AS DOUBLE), 6) END AS rec
           FROM per""") +
      ("text_langid_eval" ->
        s"""WITH pr AS (${oraclesBase("text_langid")})
           SELECT d.lang,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN p.lang_pred = d.lang THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_correct,
                  round(CAST(sum(CASE WHEN p.lang_pred = d.lang THEN 1 ELSE 0 END) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE), 6) AS accuracy,
                  round(CAST(sum(CASE WHEN p.lang_pred <> 'unknown' THEN 1 ELSE 0 END) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE), 6) AS coverage
           FROM documents d JOIN pr p USING (doc_id)
           GROUP BY d.lang ORDER BY d.lang""")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "retrieval_bm25" -> (retrievalBm25 _),
    "text_hash_embed" -> (textHashEmbed _),
    "text_topics" -> (textTopics _),
    "dedup_eval_hashembed" -> (dedupEvalHashembed _),
    "retrieval_hybrid_rrf" -> (retrievalHybridRrf _),
    "lm_perplexity" -> (lmPerplexity _),
    "lm_perplexity_kn" -> (lmPerplexityKn _),
    "lm_perplexity_trigram" -> (lmPerplexityTrigram _),
    "corpus_filter_perplexity" -> (corpusFilterPerplexity _),
    "lm_next_token" -> (lmNextToken _),
    "text_pmi" -> (textPmi _),
    "dedup_exact" -> (dedupExact _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_windows" -> (dedupWindows _),
    "dedup_span_stats" -> (dedupSpanStats _),
    "dedup_span_mask" -> (dedupSpanMask _),
    "dedup_span_incremental" -> (dedupSpanIncremental _),
    "dedup_span_profile" -> (dedupSpanProfile _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_eval_lsh" -> (dedupEvalLsh _),
    "dedup_eval_simhash" -> (dedupEvalSimhash _),
    "dedup_cluster_reps" -> (dedupClusterReps _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_embedding_incremental" -> (dedupEmbeddingIncremental _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_embedding_exact" -> (dedupEmbeddingExact _),
    "emb_quantize" -> (embQuantize _),
    "emb_standardize" -> (embStandardize _),
    "emb_pca" -> (embPca _),
    "emb_pca2" -> (embPca2 _),
    "sim_topk_bruteforce" -> (simTopkBruteforce _),
    "sim_topk_srp" -> (simTopkSrp _),
    "sim_topk_ivf" -> (simTopkIvf _),
    "sim_eval_recall" -> (simEvalRecall _),
    "sim_label_knn" -> (simLabelKnn _),
    "sim_hard_negatives" -> (simHardNegatives _),
    "sim_topk_ivf_persisted" -> (simTopkIvfPersisted _),
    "sim_topk_ivf_bulk" -> (simTopkIvfBulk _),
    "retrieval_bm25_persisted" -> (retrievalBm25Persisted _),
    "retrieval_bm25_incremental" -> (retrievalBm25Incremental _),
    "retraction_gated_build" -> (retractionGatedBuild _),
    "retrieval_pipeline_build" -> (retrievalPipelineBuild _),
    "retrieval_pipeline_serve" -> (retrievalPipelineServe _),
    "retrieval_pipeline_append" -> (retrievalPipelineAppend _),
    "sim_topk_ivfadc_persisted" -> (simTopkIvfAdcPersisted _),
    "sim_topk_ivf_kmeans" -> (simTopkIvfKmeans _),
    "sim_topk_pq" -> (simTopkPq _),
    "sim_topk_ivfadc" -> (simTopkIvfAdc _),
    "sim_kmeans" -> (simKmeans _),
    "sim_prototypes" -> (simPrototypes _),
    "dedup_semantic" -> (dedupSemantic _),
    "text_langid" -> (textLangid _),
    "text_langid_eval" -> (textLangidEval _),
    "text_quality" -> (textQuality _),
    "text_tokens" -> (textTokens _),
    "text_nfc" -> (textNfc _),
    "corpus_datasheet" -> (corpusDatasheet _),
    "corpus_overlap_matrix" -> (corpusOverlapMatrix _),
    "corpus_source_rank" -> (corpusSourceRank _),
    "text_fingerprint" -> (textFingerprint _),
    "text_repetition" -> (textRepetition _),
    "text_pii_redact" -> (textPiiRedact _),
    "text_boilerplate" -> (textBoilerplate _),
    "text_c4_filter" -> (textC4Filter _),
    "text_html_extract" -> (textHtmlExtract _),
    "text_char_entropy" -> (textCharEntropy _),
    "decontaminate" -> (decontaminate _),
    "decontaminate_persisted" -> (decontaminatePersisted _),
    "decontaminate_bloom" -> (decontaminateBloom _),
    "decontaminate_score" -> (decontaminateScore _),
    "corpus_vocab" -> (corpusVocab _),
    "corpus_vocab_cms" -> (corpusVocabCms _),
    "corpus_bpe" -> (corpusBpe _),
    "corpus_bpe_persisted" -> (corpusBpePersisted _),
    "corpus_unigram_lm" -> (corpusUnigramLm _),
    "corpus_unigram_encode" -> (corpusUnigramEncode _),
    "corpus_unigram_pack" -> (corpusUnigramPack _),
    "corpus_tokenizer_eval" -> (corpusTokenizerEval _),
    "text_quality_trained" -> (textQualityTrained _),
    "corpus_bpe_encode" -> (corpusBpeEncode _),
    "corpus_tokenize_pack" -> (corpusTokenizePack _),
    "corpus_sample_hash" -> (corpusSampleHash _),
    "corpus_sample_stratified" -> (corpusSampleStratified _),
    "corpus_domain_cap" -> (corpusDomainCap _),
    "corpus_shuffle" -> (corpusShuffle _),
    "corpus_split" -> (corpusSplit _),
    "corpus_curriculum" -> (corpusCurriculum _),
    "corpus_doremi" -> (corpusDoremi _),
    "corpus_mixture" -> (corpusMixture _),
    "corpus_mixture_temperature" -> (corpusMixtureTemperature _),
    "corpus_pack" -> (corpusPack _),
    "corpus_chunk" -> (corpusChunk _),
    "corpus_sample_weighted" -> (corpusSampleWeighted _),
    "corpus_select_budget" -> (corpusSelectBudget _),
    "corpus_length_buckets" -> (corpusLengthBuckets _),
    "corpus_length_equidepth" -> (corpusLengthEquidepth _),
    "corpus_pipeline" -> (corpusPipeline _),
    "corpus_pipeline_spanmask" -> (corpusPipelineSpanmask _),
    "corpus_dsir" -> (corpusDsir _),
    "text_naive_bayes" -> (textNaiveBayes _),
    "store_health" -> (storeHealth _),
    "warehouse_diff" -> (warehouseDiff _),
    "warehouse_forget" -> (warehouseForget _),
    "warehouse_profile" -> (warehouseProfile _),
    "warehouse_drift" -> (warehouseDrift _),
    "privacy_k_anon" -> (privacyKAnon _),
    "privacy_t_close" -> (privacyTClose _),
    "privacy_l_div" -> (privacyLDiv _),
    "mm_binary_meta" -> (mmBinaryMeta _),
    "mm_frames" -> (mmFrames _),
    "mm_features" -> (mmFeatures _),
    "mm_audio_features" -> (mmAudioFeatures _),
    "mm_video_frames" -> (mmVideoFrames _),
    "mm_resize" -> (mmResize _),
    "mm_dedup" -> (mmDedup _),
    "mm_dedup_video" -> (mmDedupVideo _),
    "mm_dedup_audio" -> (mmDedupAudio _),
    "mm_dedup_eval" -> (mmDedupEval _),
    "mm_dedup_reps" -> (mmDedupReps _))
}
