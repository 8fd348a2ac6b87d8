package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Bpe, CorpusOps, Decontam, Dedup, Privacy, QualityModel, TextAnalysis, UnigramLm}

/** End-to-end training-data curation: the whole engine chained into ONE
  * pipeline over the documents table — the flow a 100 TB pretraining crawl
  * actually runs, each stage the operator documented in its own module:
  *
  *  0. Unicode NFC canonicalization (map-only) — composed vs decomposed
  *     forms of the same text are different BYTES to every hash-keyed
  *     stage below (content-hash dedup, shingles, minhash); canonicalize
  *     once at the gate so they never diverge
  *  1. boilerplate line removal (per-source template df)
  *  2. quality filtering by the IRLS-TRAINED model (not the raw heuristic:
  *     featureize → train on the corpus itself → map-only score)
  *  3. exact dedup (content-hash keep list)
  *  4. fuzzy dedup (MinHash-LSH pairs → connected-component keep list)
  *  5. benchmark decontamination (shared-shingle overlap)
  *  6. temperature-balanced mixture over sources
  *  7. privacy release gates (optional): k-anonymity / l-diversity audits
  *     over configured quasi-identifiers — violations BLOCK the release
  *     before any shard ships (PII redaction upstream handles direct
  *     identifiers; this is the re-identification half, see
  *     [[graft.operators.Privacy]])
  *  8. tokenization (sample-trained; `tokenizer = "bpe"` — merges — or
  *     `"unigram"` — Viterbi-EM pieces, see
  *     [[graft.operators.UnigramLm]]) + exact fixed-length packing
  *
  * Every stage is declarative and shuffle-bounded; the driver touches only
  * bounded artifacts (model weights, merge list, stage counts). Returns
  * the per-stage doc counts (the packed block count for the last stage)
  * and the packed frame; `main` prints the counts.
  */
object CuratePipeline {

  final case class Stage(stage: String, docs: Long)

  /** Release-gate config: the corpus must be k-anonymous over `quasiCols`
    * and (when `sensitiveCol` is set) distinct-l-diverse — plus, when
    * `tCloseness` is also set, t-close (per-group sensitive DISTRIBUTION
    * within TVD t of the global one — the skew disclosure distinct
    * counting misses). The audits are ONE aggregate each (group-sized
    * reports, no row content leaves executors); `failOnViolation =
    * false` records the violation count as a stage instead of throwing —
    * the report-only mode a backfill uses while tightening
    * generalization upstream.
    */
  final case class PrivacyGate(quasiCols: Seq[String], k: Long,
                               sensitiveCol: Option[String] = None,
                               l: Long = 2,
                               tCloseness: Option[Double] = None,
                               failOnViolation: Boolean = true)

  /** `tokenizerDir`: the persisted-artifact seam
    * ([[graft.operators.TokenizerArtifact]]). None (default) keeps the
    * in-run sample-trained tokenizer. Set, the pipeline LOADS the frozen
    * artifact when one is committed there — no training job runs, and
    * every invocation encodes under the exact same model (the production
    * lifecycle: token ids must not drift across curation runs) — or, on
    * first use, trains on the sample once and persists the artifact for
    * every later run. The artifact's family must match `tokenizer`.
    *
    * `maskSpans = true` inserts the span-grain rewrite between fuzzy
    * dedup and decontamination (the Lee et al. 2021 ordering: doc-grain
    * dedup removes whole near-dups, span masking then strips the
    * cross-doc duplicated k-gram spans INSIDE the survivors —
    * [[graft.operators.Dedup.spanMaskText]]); fully-masked docs drop.
    * Off by default: the rewrite re-emits text in tokenized form, a
    * semantic change a deployment opts into.
    *
    * `sourceRankCap` (optional — the maskSpans opt-in discipline, r13
    * verdict #5) inserts a SOURCE-graph quality gate between
    * decontamination and the mixture: sources whose PageRank in the
    * cross-source span-contamination graph reaches the cap are
    * re-publication hubs (syndication/mirror/spam networks — their
    * content exists elsewhere, their marginal value is lowest), and all
    * their documents drop before the mixture re-balances what remains
    * ([[graft.operators.CorpusOps.sourceRank]] — the web-graph
    * seed-quality-propagation pattern at source grain). Sources absent
    * from the graph (no cross-source spans) are never hubs and always
    * pass.
    */
  def run(spark: SparkSession, sfDir: String,
          quotaPerSource: Int = Int.MaxValue,
          privacyGate: Option[PrivacyGate] = None,
          tokenizer: String = "bpe",
          tokenizerDir: Option[String] = None,
          maskSpans: Boolean = false,
          sourceRankCap: Option[Double] = None): (Seq[Stage], DataFrame) = {
    require(tokenizer == "bpe" || tokenizer == "unigram",
      s"tokenizer must be bpe|unigram, got $tokenizer")
    val raw = graft.Tables.load(spark, sfDir, "documents")
    val stages = Seq.newBuilder[Stage]
    def record(name: String, df: DataFrame): DataFrame = {
      // each stage feeds the next AND the returned final frame — eager
      // localCheckpoint, not cache, so a caller re-running the pipeline
      // in one session cannot accumulate stage blocks (ContextCleaner
      // reclaims them once the previous run's result is dropped); the
      // stage's count rides the checkpoint's own job
      val (mat, counts) = graft.warehouse.Warehouse.countedCheckpoint(df, "docs" -> lit(true))
      stages += Stage(name, counts("docs"))
      mat
    }

    // 0 — byte-canonicalize (map-only; count-preserving, so this stage
    // also records the input volume)
    val canon = record("canonicalize", raw.select(col("doc_id"),
      graft.functions.nfc_normalize(col("text")).as("text"), col("source")))

    // 1 — strip per-source template lines (headers/footers/banners)
    val stripped = record("boilerplate", TextAnalysis
      .removeBoilerplateLines(canon, "text", "doc_id", "source", minDf = 10)
      .join(canon.select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), col("clean_text").as("text"), col("source"))
      .filter(length(col("text")) > 0))

    // 2 — trained quality filter: distill the heuristic into a logistic
    // model on THIS corpus, keep predicted-positive docs
    val feats = QualityModel.featureTable(stripped, "text", "doc_id")
    val w = QualityModel.train(feats, QualityModel.defaultFeatures, "label")
    val kept = QualityModel.score(feats, QualityModel.defaultFeatures, w)
      .filter(col("predicted") === 1).select("doc_id")
    val quality = record("quality",
      stripped.join(kept, "doc_id"))

    // 3 — exact dedup: lowest-id representative per content hash
    val exactKeep = Dedup.exact(quality, "text", "doc_id")
      .select(col("keep_id").as("doc_id"))
    val exact = record("exact_dedup", quality.join(exactKeep, "doc_id"))

    // 4 — fuzzy dedup: MinHash-LSH pairs, connected-component keep list
    val pairs = Dedup.minhashLsh(exact, "text", "doc_id", k = 8, threshold = 0.3)
    val reps = Dedup.clusterReps(exact, pairs, "doc_id")
      .filter(col("doc_id") === col("rep_id")).select("doc_id")
    val fuzzy0 = record("fuzzy_dedup", exact.join(reps, "doc_id"))

    // 4b (optional) — span-grain rewrite of the survivors (see the
    // `maskSpans` scaladoc); count-visible as its own stage
    val fuzzy = if (!maskSpans) fuzzy0
      else record("span_mask",
        Dedup.spanMaskText(fuzzy0, "text", "doc_id")
          .join(fuzzy0.select("doc_id", "source"), "doc_id")
          .select(col("doc_id"), col("text"), col("source"))
          .filter(length(col("text")) > 0))

    // 5 — decontamination: drop docs sharing 8-gram shingles with the
    // "benchmark" (stand-in: the 1% lowest-hash sample of the corpus).
    // With the source-rank gate ON, the corpus-scale shingle explode is
    // paid ONCE and shared with the gate's projection (r14 verdict #3 —
    // the gate used to re-explode the same documents right after this
    // stage): materialized via localCheckpoint (spill-backed blocks,
    // O(corpus shingles) storage traded for the second full pass), and
    // only materialized when something reuses it. sourceRank's source-
    // similarity is hash-family-agnostic (its projection distincts
    // (shingle, source) pairs), so the decontam stream serves both.
    val bench = CorpusOps.sampleByHash(canon, "doc_id", rate = 0.01)
    val sharedShingles = sourceRankCap.map(_ =>
      Dedup.shingleHashes(fuzzy, "text", "doc_id", 8).localCheckpoint(true))
    val dirty = Decontam.overlap(fuzzy, bench, "text", "doc_id", k = 8,
        corpusShingles = sharedShingles)
      .filter(col("doc_id").isNotNull).select("doc_id")
      .except(bench.select("doc_id")) // the bench docs themselves stay
    val clean = record("decontaminated", fuzzy.join(dirty, Seq("doc_id"), "left_anti"))

    // 5b (optional) — source-graph quality gate (see the sourceRankCap
    // scaladoc): hub sources' documents drop, count-visible as a stage.
    // The shared stream covers the FUZZY set ⊇ clean; sourceRank's own
    // id join restricts it to the docs it is given.
    val gated = sourceRankCap match {
      case None => clean
      case Some(cap) =>
        val hubs = CorpusOps.sourceRank(clean, "text", "doc_id", "source",
            spans = sharedShingles)
          .filter(col("rank") >= cap).select("source")
        record("source_rank_gate",
          clean.join(broadcast(hubs), Seq("source"), "left_anti"))
    }

    // 6 — temperature-balanced source mixture (α=0.5, keep ~80%)
    val mixed = record("mixture", CorpusOps.mixtureTemperature(
      gated, "doc_id", "source", alpha = 0.5, targetFraction = 0.8))

    // 7 — privacy release gates: audit the corpus that is ABOUT to ship
    // (post-mixture), fail closed before tokenization spends anything
    privacyGate.foreach { g =>
      val kViol = Privacy.kAnonViolations(mixed, g.quasiCols, g.k).count()
      val lViol = g.sensitiveCol
        .map(sc => Privacy.lDiversityViolations(mixed, g.quasiCols, sc, g.l).count())
        .getOrElse(0L)
      val tViol = (for { sc <- g.sensitiveCol; tt <- g.tCloseness }
        yield Privacy.tClosenessViolations(mixed, g.quasiCols, sc, tt).count())
        .getOrElse(0L)
      stages += Stage("privacy_gate_violations", kViol + lViol + tViol)
      if (g.failOnViolation && kViol + lViol + tViol > 0)
        throw new IllegalStateException(
          s"privacy gate: $kViol k-anonymity (k=${g.k}), $lViol l-diversity and " +
            s"$tViol t-closeness violating quasi-identifier groups over " +
            s"${g.quasiCols.mkString(",")} — release blocked")
    }

    // 8 — tokenize (model trained on a quarter sample, or reloaded
    // frozen from tokenizerDir; both families share the encode-ids +
    // pack surface) and pack
    import graft.operators.TokenizerArtifact
    val sample = mixed.filter(col("doc_id") % 4 === 0)
    val tok: TokenizerArtifact.Tokenizer = tokenizerDir match {
      case Some(dir) if TokenizerArtifact.exists(spark, dir) =>
        val loaded = TokenizerArtifact.load(spark, dir)
        require(loaded.family == tokenizer,
          s"tokenizerDir holds a ${loaded.family} artifact but tokenizer=$tokenizer")
        loaded
      case Some(dir) if tokenizer == "bpe" =>
        TokenizerArtifact.trainBpe(sample, "text", dir, numMerges = 8)
      case Some(dir) =>
        TokenizerArtifact.trainUnigram(sample, "text", dir)
      case None if tokenizer == "bpe" =>
        TokenizerArtifact.BpeTokenizer(Bpe.train(sample, "text", numMerges = 8))
      case None =>
        TokenizerArtifact.UnigramTokenizer(UnigramLm.train(sample, "text"),
          UnigramLm.DefaultMaxPieceLen)
    }
    val (ids, _) = tok.encodeIds(mixed, "text", "doc_id")
    val packed = record("packed_blocks", CorpusOps.packTokens(ids, "doc_id", "token_ids",
      blockSize = 512, blocks = 8))
    (stages.result(), packed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.getOrCreate("graft-curate")
    val (stages, _) = run(spark, sfDir)
    stages.foreach(s => println(f"  ${s.stage}%-16s ${s.docs}%8d"))
    spark.stop()
  }
}
