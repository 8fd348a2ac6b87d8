package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Document-deduplication operators for training-data pipelines, from exact
  * to fuzzy, each shaped for 100 TB:
  *
  *  - [[exact]]            — hash-groupBy, one shuffle on a 128-bit digest.
  *  - [[ngramJaccard]]     — shingle-inverted-index candidate join + exact
  *    Jaccard verify; hot shingles capped by document frequency so no
  *    single key can quadratically explode the pair join (skew guard).
  *  - [[minhashLsh]]       — MinHash signatures, banded LSH candidate join,
  *    exact-Jaccard verification of candidates only.
  *  - [[simhashPairs]]     — 64-bit SimHash + block-permutation hamming join.
  *  - [[embeddingNearDup]] — SRP-LSH bucketing over embeddings + cosine
  *    verify (graft's native codegen'd cosine expression).
  *
  * All emit deterministic results: candidate generation may differ in
  * order, but verification recomputes exact similarities and outputs are
  * keyed (id_a < id_b) and sortable.
  *
  * Memory note: the fuzzy operators cache intermediates (shingle index,
  * signatures, candidates) for the duration of the returned plan's
  * execution; long-lived sessions running them repeatedly should
  * `spark.catalog.clearCache()` between invocations (Bench does).
  */
object Dedup {

  /** Exact dedup: group by content digest, keep the lowest id as canonical. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct k-word shingles per document as text: (id, shingle). The
    * input is fanned out first — the explode multiplies row width ~100x and
    * must not run on a single scan partition. Text shingles exist for
    * oracle-checkable exact Jaccard; the scale path is [[shingleHashes]].
    */
  def shingles(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // documents shorter than k tokens contribute their whole token stream
    // as one shingle — otherwise short duplicates would silently vanish
    // from every fuzzy-dedup operator (explode drops empty arrays)
    val sh = when(size(toks) < k, array(concat_ws(" ", toks))).otherwise(
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
    graft.Tables.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(array_distinct(sh)).as("shingle"))
  }

  /** Distinct k-word shingles as 64-bit keys: xxhash64 over the token
    * slice directly — no shingle string is ever built, the inverted index
    * carries 8-byte keys, and downstream joins/aggregations shuffle a
    * fraction of the bytes. Collision probability at 64 bits is negligible
    * against Jaccard thresholds. This is what the LSH operators use.
    */
  def shingleHashes(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // short docs: whole token stream as one shingle (see [[shingles]])
    val sh = when(size(toks) < k, array(xxhash64(toks))).otherwise(
      transform(sequence(lit(0), size(toks) - k),
        i => xxhash64(slice(toks, i + 1, lit(k)))))
    graft.Tables.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(array_distinct(sh)).as("shingle"))
  }

  private val P = 1000000007L // portable-hash modulus (fits every product in a long)

  /** Distinct k-word shingles as PORTABLE hashes: a rolling polynomial mod
    * 1e9+7 over md5-derived 24-bit token hashes. Same shape as
    * [[shingleHashes]], but every step is expressible in ANSI SQL so
    * operators built on it carry full DuckDB oracles. One native codegen
    * pass (graft.functions.PortableShingles) — raw-byte md5 + primitive
    * folds, no hex strings or lambda allocation; the xxhash64 variant
    * stays the pure-scale default (no md5 at all).
    */
  def shingleHashesPortable(df: DataFrame, textCol: String, idCol: String,
                            k: Int): DataFrame =
    graft.Tables.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(graft.functions.portable_shingles(col(textCol), k)).as("shingle"))

  /** Drop rows whose `keyCol` value has population > `cap` — the skew
    * guard shared by every LSH/inverted-index operator here. One hot key
    * (a boilerplate shingle, an LSH bucket full of a duplicate cluster —
    * the NORM in a 100 TB dedup corpus) otherwise turns the candidate
    * self-join quadratic on a single shuffle key.
    *
    * The guard anti-joins against the HOT key set, which is small by
    * construction (only keys exceeding the cap), so it broadcasts at any
    * corpus size — broadcasting the kept side would ship nearly every
    * distinct key. Cost: one count-aggregate over (key) plus a broadcast
    * anti-join; the bucketed stream itself is never shuffled.
    */
  private[operators] def dropHotKeys(df: DataFrame, keyCol: String, cap: Int): DataFrame = {
    val hot = df.groupBy(keyCol).agg(count(lit(1)).as("__pop"))
      .filter(col("__pop") > cap).select(keyCol)
    df.join(broadcast(hot), Seq(keyCol), "left_anti")
  }

  /** Exact n-gram Jaccard over an inverted shingle index.
    *
    * Shingles with document frequency > `maxDf` are dropped before the
    * pair join — at corpus scale a single stop-shingle shared by 1M docs
    * would otherwise produce 10^12 candidate pairs on one shuffle key.
    * With k large enough, dropped shingles are near-universal boilerplate
    * and do not affect near-dup pairs above the threshold materially; the
    * cap is part of the operator's declared semantics (and of the oracle).
    */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String, k: Int,
                   threshold: Double, maxDf: Int = 100,
                   textShingles: Boolean = false,
                   portable: Boolean = false): DataFrame =
    ngramJaccardFromKept(
      cappedShingles(df, textCol, idCol, k, maxDf, textShingles, portable),
      idCol, threshold)

  /** The df-capped, eagerly MATERIALIZED shingle stream every fuzzy-dedup
    * operator here starts from: one explode pass (cached so the hot-key
    * aggregate and the kept side read it once), one cap anti-join, one
    * localCheckpoint. Shared so a caller needing several operators over
    * the SAME (df, k, maxDf) stream — the dedup quality evals above all —
    * pays the corpus-scale explode once (r15; the dedup_incremental
    * slice-sharing move, applied within one query).
    */
  private[graft] def cappedShingles(df: DataFrame, textCol: String,
                                    idCol: String, k: Int, maxDf: Int,
                                    textShingles: Boolean = false,
                                    portable: Boolean = false): DataFrame = {
    // default = xxhash64 shingles (the pure-scale path); portable=true uses
    // the md5-poly hashes (SQL-oracle-reproducible, one native pass);
    // textShingles=true keeps the shingle strings themselves
    val sh = (if (textShingles) shingles(df, textCol, idCol, k)
              else if (portable) shingleHashesPortable(df, textCol, idCol, k)
              else shingleHashes(df, textCol, idCol, k)).cache()
    sh.count() // materialize before concurrent consumers (see minhashLsh)
    // kept feeds three consumers (sizes, both pair-join sides) and backs
    // the lazily returned result — eager localCheckpoint, NOT cache: the
    // blocks are reclaimed by the ContextCleaner once the result is
    // dropped, so a long-lived session re-invoking the operator cannot
    // accumulate cached intermediates (no safe unpersist site exists).
    val kept = dropHotKeys(sh, "shingle", maxDf).localCheckpoint(true)
    sh.unpersist() // everything downstream reads the capped stream only
    kept
  }

  /** [[ngramJaccard]]'s verification tail over an already-capped,
    * MATERIALIZED shingle stream (the [[cappedShingles]] contract).
    */
  private[graft] def ngramJaccardFromKept(kept: DataFrame, idCol: String,
                                          threshold: Double): DataFrame = {
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = kept.select(col(idCol).as("id_a"), col("shingle"))
    val b = kept.select(col(idCol).as("id_b"), col("shingle"))
    val inter = a.join(b, "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact n-gram CONTAINMENT — the asymmetric near-dup test Jaccard
    * misses (Broder 1997, "On the resemblance and containment of
    * documents" — public literature): C(a,b) = |S(a)∩S(b)| / |S(a)|.
    * A short document pasted verbatim inside a much longer one has tiny
    * Jaccard (the union is the long doc's shingle set) but containment
    * ≈ 1 — exactly the quote/aggregator/boilerplate-expansion duplication
    * a pretraining crawl is full of. Emits ORDERED pairs
    * (contained_id, container_id, containment ≥ threshold), both
    * directions of every intersecting pair tested.
    *
    * Scale shape: identical to [[ngramJaccard]] — one df-capped inverted
    * shingle index, one self-join on shingle (the intersection count is
    * symmetric, so each unordered pair is counted once and mirrored
    * relationally), per-doc sizes joined back group-sized. The df cap is
    * declared semantics here too.
    */
  def ngramContainment(df: DataFrame, textCol: String, idCol: String, k: Int,
                       threshold: Double, maxDf: Int = 100,
                       portable: Boolean = false): DataFrame = {
    val kept = cappedShingles(df, textCol, idCol, k, maxDf, portable = portable)
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = kept.select(col(idCol).as("id_a"), col("shingle"))
    val b = kept.select(col(idCol).as("id_b"), col("shingle"))
    val inter = a.join(b, "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .localCheckpoint(true) // feeds both direction projections once
    val fwd = inter.select(col("id_a").as("contained_id"),
      col("id_b").as("container_id"),
      (col("n_inter").cast("double") / col("n_a")).as("containment"))
    val rev = inter.select(col("id_b").as("contained_id"),
      col("id_a").as("container_id"),
      (col("n_inter").cast("double") / col("n_b")).as("containment"))
    fwd.union(rev)
      .filter(col("containment") >= threshold)
      .select(col("contained_id"), col("container_id"),
        round(col("containment"), 6).as("containment"))
  }

  /** Exact SUBSTRING dedup at token-window granularity — the practical
    * distributed variant of suffix-array substring deduplication (Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499): documents are split into consecutive
    * non-overlapping `windowTokens`-token windows; a window whose text
    * already occurred earlier in the corpus (ordered by (id, position))
    * is removed, and each document's surviving windows are re-joined.
    * Catches the boilerplate/licence-header duplication INSIDE otherwise
    * unique documents that whole-document dedup cannot touch.
    *
    * Returns (idCol, n_windows, n_kept, clean_text), one row per input
    * document (clean_text = "" when every window was a repeat).
    *
    * Scale shape: two shuffles — a partial-aggregatable groupBy(digest)
    * taking the global min occurrence, then a hash join of windows
    * against that (unique-keyed) table; a hot window (the 100 TB norm:
    * one licence header over millions of docs) costs one combiner cell
    * map-side, never a quadratic join. The per-doc reconstruction
    * collect_list is bounded by the document's own window count. Both
    * the aggregate and the join key on a 128-bit md5 DIGEST of the
    * window, never the window text — a 32-token window is ~200 bytes of
    * shuffle key per occurrence at corpus scale, the digest is 16; the
    * text stays side-local on the occurrence rows for reconstruction.
    * (Equal digests ⇔ equal windows up to md5 collision — the same
    * declared fingerprinting semantics every fuzzy path here uses.)
    */
  /** Checkpoint-layout gate for [[windowDedup]] (r15 verdict #3): at or
    * under this MEASURED input doc count the exploded window frame
    * materializes WITH its text (one pass, reconstruction reads the
    * checkpoint — the fastest shape, bounded storage); above it the
    * checkpoint carries only (id, widx, 16-byte digest) — ~24 bytes per
    * window at any corpus size — and kept windows re-slice map-only
    * from the source docs (one extra doc-sized join + tokenize pass,
    * the right trade when the exploded text would be a corpus-×-windows
    * storage bound). The expensive md5 digest pass runs ONCE either way.
    */
  private[graft] val WindowDedupWideDocCap: Long = 1L << 20

  def windowDedup(df: DataFrame, textCol: String, idCol: String,
                  windowTokens: Int = 16,
                  wideDocCap: Long = WindowDedupWideDocCap): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val nWin = ceil(size(toks).cast("double") / windowTokens).cast("int")
    val winArr = transform(sequence(lit(0), greatest(nWin, lit(1)) - 1),
      i => concat_ws(" ", slice(toks, i * windowTokens + 1, lit(windowTokens))))
    // the tokenize + window-slice + md5 explode runs ONCE: wins feeds the
    // keeper aggregate AND the occurrence join below, and unmaterialized
    // the whole per-row digest pass re-executes per consumer (the
    // cache-before-cap discipline, r15). Layout per [[WindowDedupWideDocCap]].
    val wide = df.count() <= wideDocCap
    val winsAll = graft.Tables.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), posexplode(winArr).as(Seq("widx", "wtext")))
      .withColumn("wdig", unhex(md5(col("wtext"))))
    val wins = (if (wide) winsAll
                else winsAll.select(col(idCol), col("widx"), col("wdig")))
      .localCheckpoint(true)
    // first global occurrence of each distinct window, ordered by
    // (doc id, window position) — struct min compares lexicographically
    val keeper = wins.groupBy("wdig")
      .agg(min(struct(col(idCol), col("widx"))).as("keeper"))
    val flagged = wins.join(keeper, Seq("wdig"))
      .withColumn("kept", struct(col(idCol), col("widx")) === col("keeper"))
    if (wide)
      flagged
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("widx"), col("wtext"))))),
            s => s.getField("wtext"))).as("clean_text"))
    else {
      val perDoc = flagged
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          // widx is unique per doc, so the int sort equals the wide
          // path's (widx, wtext) struct sort
          array_sort(collect_list(when(col("kept"), col("widx"))))
            .as("kept_idx"))
      // map-only reconstruction off the doc's own token array (ids are
      // unique per the operator's one-row-per-document contract); the
      // same slice expression produces the identical strings — DedupSpec
      // pins both sides of the gate
      perDoc.join(df.select(col(idCol), col(textCol)), Seq(idCol))
        .select(col(idCol), col("n_windows"), col("n_kept"),
          concat_ws(" ", transform(col("kept_idx"),
            i => concat_ws(" ",
              slice(toks, i * windowTokens + 1, lit(windowTokens)))))
            .as("clean_text"))
    }
  }

  /** Positional k-token spans: (idCol, pos, shingle) with one row per
    * token position — the SLIDING window stream whose tiling
    * approximation is [[windowDedup]]. Tiling misses duplicated spans
    * that straddle a window boundary or repeat at a shifted phase; the
    * rolling stream is boundary-insensitive (the Rabin–Karp face of
    * suffix-array substring dedup, Lee et al. 2021, arXiv:2107.06499).
    * Hashes are the portable md5-poly scheme (one native codegen pass,
    * graft.functions.PortableShinglesPos) so every operator built on
    * this carries a DuckDB oracle. Documents shorter than k tokens emit
    * no spans — doc-grain dedup ([[exact]]/[[minhashLsh]]) owns them.
    */
  def spanShingles(df: DataFrame, textCol: String, idCol: String,
                   k: Int): DataFrame =
    graft.Tables.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(graft.functions.portable_shingles_pos(col(textCol), k))
          .as(Seq("pos", "shingle")))

  /** Cross-document span-duplication profile: for every document, how
    * many of its k-token spans (and what fraction of its tokens) occur
    * in at least `minDocs` distinct documents. The measurement face of
    * span dedup — the gate "drop docs with dup_fraction > τ" and the
    * rewrite face ([[spanMask]]) both hang off this stream.
    *
    * Returns (idCol, n_tokens, dup_spans, dup_tokens, dup_fraction),
    * one row per input document.
    *
    * Scale shape: strictly GROUP-BY-shaped — no pair join anywhere, so
    * unlike the Jaccard/LSH family there is no quadratic blow-up to
    * guard: a licence-header span shared by 1M docs costs one combiner
    * cell in the dup aggregate and its own occurrence rows in the
    * semi-join back, both linear. Two shuffles on the 8-byte span hash
    * (partial-agg count-distinct, then the occurrence semi-join) plus
    * one per-doc aggregate; the coverage union explodes k rows per
    * duplicated occurrence — bounded by k × the corpus duplication
    * rate, not by corpus².
    */
  def spanStats(df: DataFrame, textCol: String, idCol: String, k: Int = 8,
                minDocs: Int = 2): DataFrame = {
    // feeds the dup aggregate AND the occurrence join back — eager
    // localCheckpoint, not cache (the ngramJaccard reclaim argument)
    val sp = spanShingles(df, textCol, idCol, k).localCheckpoint(true)
    val dup = sp.groupBy("shingle")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs).select("shingle")
    // checkpoint: spanStatsOver consumes occ twice, and without this the
    // shuffle-heavy dup aggregate + occurrence join re-execute once per
    // consumer (the spanProfile pattern; ADVICE r12)
    spanStatsOver(df, sp.join(dup, Seq("shingle")).localCheckpoint(true),
      textCol, idCol, k)
  }

  /** The per-doc reporting tail shared by [[spanStats]] and
    * [[SpanStore.probe]] (the no-fork rule the oracles follow): stats of
    * `df`'s docs given `occ`, the (idCol, pos, shingle) stream of
    * duplicated-span occurrences.
    */
  private[operators] def spanStatsOver(df: DataFrame, occ: DataFrame,
                                       textCol: String, idCol: String,
                                       k: Int): DataFrame = {
    // occ is consumed TWICE below (per-doc count + coverage explode):
    // callers that compute it through a shuffle (spanStats) checkpoint
    // it first; SpanStore.probe deliberately stays lazy — its plan must
    // keep the committed-partials semi-join visible (PlanSpec) and
    // capture the ingest list at construction time
    val perDoc = occ.groupBy(col(idCol)).agg(count(lit(1)).as("dup_spans"))
    val covered = occ
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + k - 1)).as("t"))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("dup_tokens"))
    df.select(col(idCol),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .join(covered, Seq(idCol), "left")
      .na.fill(0L, Seq("dup_spans", "dup_tokens"))
      .withColumn("dup_fraction",
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6))
  }

  /** Corpus-level span-duplication PROFILE — the datasheet row the
    * per-doc [[spanStats]] rolls up to: how much of the corpus, by span
    * and by token, is cross-document duplication, and how concentrated
    * it is. One output row:
    * (n_docs, n_spans, dup_spans, dup_span_frac, distinct_dup_shingles,
    * dup_tokens, n_tokens, dup_token_frac). Purely aggregate (two
    * shuffles on the span hash + one global fold) — the cheap first
    * look that decides whether running the full mask/filter pass is
    * worth the corpus scan it costs.
    */
  def spanProfile(df: DataFrame, textCol: String, idCol: String, k: Int = 8,
                  minDocs: Int = 2): DataFrame = {
    val sp = spanShingles(df, textCol, idCol, k).localCheckpoint(true)
    val dup = sp.groupBy("shingle")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs).select("shingle")
      .localCheckpoint(true) // feeds the occurrence join AND its own count
    val occ = sp.join(dup, Seq("shingle"))
    val covered = occ
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + k - 1)).as("t"))
      .distinct()
    // the six counters fold through ONE tagged union + conditional
    // aggregate — a 1-row crossJoin assembly would plan as a
    // BroadcastNestedLoopJoin, the shape the blanket plan audit bans
    // (PlanAuditSpec); the union is shuffle-free (partial+final agg)
    def tagged(src: DataFrame, tag: String, v: Column = lit(1L)) =
      src.select(lit(tag).as("m"), v.cast("long").as("v"))
    val metrics = tagged(df, "n_docs")
      .unionByName(tagged(df, "n_tokens",
        size(TextAnalysis.tokens(col(textCol)))))
      .unionByName(tagged(sp, "n_spans"))
      .unionByName(tagged(occ, "dup_spans"))
      .unionByName(tagged(dup, "dds"))
      .unionByName(tagged(covered, "dup_tokens"))
    def m(tag: String) = sum(when(col("m") === tag, col("v")).otherwise(0L))
    metrics.agg(m("n_docs").as("n_docs"), m("n_spans").as("n_spans"),
        m("dup_spans").as("dup_spans"), m("dds").as("distinct_dup_shingles"),
        m("dup_tokens").as("dup_tokens"), m("n_tokens").as("n_tokens"))
      .select(col("n_docs"), col("n_spans"), col("dup_spans"),
        round(col("dup_spans").cast("double") / greatest(col("n_spans"), lit(1L)), 6)
          .as("dup_span_frac"),
        col("distinct_dup_shingles"), col("dup_tokens"), col("n_tokens"),
        round(col("dup_tokens").cast("double") / greatest(col("n_tokens"), lit(1L)), 6)
          .as("dup_token_frac"))
  }

  /** Span-grain REWRITE: mask every occurrence of a cross-document
    * duplicated k-token span except its first global occurrence
    * (ordered by (id, position) — the [[windowDedup]] keeper rule at
    * sliding grain), then rebuild each document from its surviving
    * tokens. A token survives unless some masked occurrence covers it —
    * overlapping duplicated spans mask their position-set union, and
    * only NON-keeper occurrences contribute coverage — though a keeper
    * occurrence's tokens may still be masked when a DIFFERENT masked
    * occurrence overlaps them (coverage is a position-set union, not a
    * per-span veto).
    *
    * Returns (idCol, n_tokens, masked_tokens, kept_tokens, clean_hash)
    * — clean_hash is md5 of the rebuilt (space-joined) token stream, the
    * compact board-checkable witness of the rewrite (the full text
    * rebuild is the same aggregate minus the md5).
    *
    * Scale shape: [[spanStats]] plus one keeper aggregate (struct-min
    * per span hash — partial-aggregatable, hot spans cost one combiner
    * cell) and the per-doc token rebuild (collect_list bounded by the
    * document's own length, the windowDedup argument).
    */
  def spanMask(df: DataFrame, textCol: String, idCol: String, k: Int = 8,
               minDocs: Int = 2): DataFrame = {
    val kept = spanMaskKept(df, textCol, idCol, k, minDocs)
    df.select(col(idCol),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .withColumn("kept_tokens", coalesce(col("kept_tokens"), lit(0L)))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - col("kept_tokens")).as("masked_tokens"),
        col("kept_tokens"),
        // a fully-masked document rebuilds to the empty stream
        md5(coalesce(col("clean_text"), lit(""))).as("clean_hash"))
  }

  /** [[spanMask]] emitting the REBUILT documents themselves —
    * (idCol, textCol) with duplicated spans removed — for composition
    * into a curation flow (CuratePipeline's optional span stage). The
    * rebuilt text is the token stream re-joined by single spaces, i.e.
    * the TOKENIZED (lowercased, trim-normalized) form every hash-keyed
    * stage downstream already operates on; fully-masked documents come
    * back with empty text (callers filter on length like any other
    * rewrite stage).
    */
  def spanMaskText(df: DataFrame, textCol: String, idCol: String, k: Int = 8,
                   minDocs: Int = 2): DataFrame =
    df.select(col(idCol))
      .join(spanMaskKept(df, textCol, idCol, k, minDocs), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as(textCol))

  /** The masking core shared by [[spanMask]] and [[spanMaskText]]
    * (no-fork): per-doc (idCol, kept_tokens, clean_text) of the
    * documents that kept at least one token; fully-masked docs are
    * absent (callers left-join and coalesce).
    */
  private def spanMaskKept(df: DataFrame, textCol: String, idCol: String,
                           k: Int, minDocs: Int): DataFrame = {
    val sp = spanShingles(df, textCol, idCol, k).localCheckpoint(true)
    val dup = sp.groupBy("shingle")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs).select("shingle")
    // occ feeds the keeper aggregate AND the coverage join — checkpoint
    // so the dup aggregate + occurrence join run once, not per consumer
    // (the spanProfile pattern; ADVICE r12)
    val occ = sp.join(dup, Seq("shingle")).localCheckpoint(true)
    val keeper = occ.groupBy("shingle")
      .agg(min(struct(col(idCol), col("pos"))).as("keeper"))
    val maskedPos = occ.join(keeper, Seq("shingle"))
      .filter(struct(col(idCol), col("pos")) =!= col("keeper"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + k - 1)).as("t"))
      .distinct()
    graft.Tables.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("t", "tok")))
      .join(maskedPos, Seq(idCol, "t"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("t"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"))
  }

  /** MinHash signature column: for each of `numHashes` xxHash64 seeds, the
    * minimum hash over the document's shingles — one imperative aggregate
    * pass (graft.functions.MinHashAgg), not `numHashes` min() columns.
    */
  def minhashSignatures(sh: DataFrame, idCol: String, numHashes: Int): DataFrame =
    sh.groupBy(col(idCol))
      .agg(graft.functions.MinHashAgg.minhash_signature(col("shingle"), numHashes).as("sig"))

  /** MinHash + banded LSH near-dup pairs, verified with exact Jaccard.
    *
    * numHashes = bands * rowsPerBand. Docs colliding on any band become
    * candidates (one shuffle per band, unioned), then candidates are
    * verified against the exact shingle sets. Probability a pair with
    * Jaccard j becomes a candidate: 1 - (1 - j^rows)^bands.
    *
    * `portable = true` swaps both hash layers for SQL-expressible ones
    * (md5-poly shingles, affine-mod-p minhash families, plain-text band
    * keys) so the whole operator carries a DuckDB oracle; the default
    * xxhash64/splitmix64 path is the faster pure-scale variant. Both share
    * the df-cap, banding structure and exact verification.
    */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String, k: Int,
                 threshold: Double, bands: Int = 8, rowsPerBand: Int = 4,
                 maxDf: Int = 100, portable: Boolean = false): DataFrame =
    // same df-cap as ngramJaccard: a boilerplate shingle shared by millions
    // of docs would dominate every signature band and the verify join
    minhashLshFromKept(
      cappedShingles(df, textCol, idCol, k, maxDf, portable = portable),
      idCol, threshold, bands, rowsPerBand, portable)

  /** [[minhashLsh]]'s banding + verification tail over an already-capped,
    * MATERIALIZED shingle stream (the [[cappedShingles]] contract).
    */
  private[graft] def minhashLshFromKept(sh: DataFrame, idCol: String,
                                        threshold: Double, bands: Int,
                                        rowsPerBand: Int,
                                        portable: Boolean): DataFrame = {
    val banded = bandKeysFor(sh, idCol, bands, rowsPerBand, portable)
    val cand = banded.alias("x")
      .join(banded.alias("y"), Seq("band_key"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    verifyJaccard(cand, sh, idCol, threshold)
  }

  /** Banded LSH keys (idCol, band_key) from a df-capped shingle stream —
    * the shared banding core of [[minhashLsh]] and the incremental path.
    * `sh` must already be materialized (cached or persisted).
    */
  private[operators] def bandKeysFor(sh: DataFrame, idCol: String, bands: Int,
                                     rowsPerBand: Int, portable: Boolean,
                                     cacheSig: Boolean = true): DataFrame = {
    // `cacheSig = false` when the caller consumes the banded keys exactly
    // once (e.g. the corpus side of the incremental join): skipping the
    // eager cache+count drops one driver barrier and one materialization
    val numHashes = bands * rowsPerBand
    if (portable) {
      // affine families h_i(s) = (a_i*s + b_i) mod p over the shingle hash:
      // numHashes min-aggregates in ONE partial+final HashAggregate pass;
      // every coefficient is < p so products stay inside a long (and inside
      // ANSI SQL BIGINT arithmetic for the oracle)
      val mins = (0 until numHashes).map { i =>
        val a = (2654435761L * (i + 1)) % P
        val b = (40503L * (i.toLong * i + 1)) % P
        min((col("shingle") * a + b) % P).as(s"m$i")
      }
      // candidate joins reference the signature aggregate from both
      // sides — eager localCheckpoint (ContextCleaner-reclaimed; the band
      // keys are returned lazily, so no unpersist site exists)
      val sig0 = sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      val sig = if (cacheSig) sig0.localCheckpoint(true) else sig0
      val bandKeys = array((0 until bands).map { b =>
        concat_ws(":", lit(b) +:
          (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
      }: _*)
      sig.select(col(idCol), explode(bandKeys).as("band_key"))
    } else {
      // materialize signatures once: the banded explode references sig
      // `bands` times on each side of the self-join — unmaterialized, the
      // shingle shuffle and the min-agg would run 2*bands times. Eager
      // localCheckpoint, not cache (lazily returned; ContextCleaner
      // reclaims the blocks when the result is dropped).
      val sig = minhashSignatures(sh, idCol, numHashes).localCheckpoint(true)
      // band key = hash of the band's signature slice; one explode generates
      // all bands in a single stage (a bands-way union would multiply the
      // stage/task count and re-scan sig per branch)
      val bandKeys = array((0 until bands).map { b =>
        xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
      }: _*)
      sig.select(col(idCol), explode(bandKeys).as("band_key"))
    }
  }

  /** Build-once dedup state for a corpus: (banded LSH keys, df-capped
    * shingle hashes) — both flat (id, key) tables a warehouse persists so
    * later batches dedup against the corpus WITHOUT reprocessing it (see
    * [[minhashLshIncremental]]). State size is linear in the corpus; the
    * shingle table is the price of exact-Jaccard verification against
    * historical docs.
    */
  def minhashState(df: DataFrame, textCol: String, idCol: String, k: Int = 8,
                   bands: Int = 8, rowsPerBand: Int = 4, maxDf: Int = 100,
                   portable: Boolean = false): (DataFrame, DataFrame) = {
    val sh0 = (if (portable) shingleHashesPortable(df, textCol, idCol, k)
               else shingleHashes(df, textCol, idCol, k)).cache()
    sh0.count() // one explode pass; the cap anti-join reads it twice
    val state = minhashStateFromHashes(sh0, idCol, bands, rowsPerBand, maxDf, portable)
    sh0.unpersist()
    state
  }

  /** [[minhashState]] from an already-materialized raw shingle-hash stream
    * (id, shingle) — lets a caller shingle several corpus slices in ONE
    * pass and derive per-slice states by filtering the shared stream (the
    * df-cap stays slice-local, as the incremental contract requires).
    */
  def minhashStateFromHashes(sh0: DataFrame, idCol: String, bands: Int = 8,
                             rowsPerBand: Int = 4, maxDf: Int = 100,
                             portable: Boolean = false,
                             cacheBandSig: Boolean = true): (DataFrame, DataFrame) = {
    // eager localCheckpoint: the shingle half of the returned state is
    // consumed lazily (possibly across batches) — ContextCleaner reclaims
    // the blocks once the caller drops the state frames.
    val sh = dropHotKeys(sh0, "shingle", maxDf).localCheckpoint(true)
    (bandKeysFor(sh, idCol, bands, rowsPerBand, portable, cacheBandSig), sh)
  }

  /** Incremental MinHash-LSH: near-dup pairs of a NEW batch against an
    * already-deduped corpus (via its [[minhashState]]) plus within the
    * batch itself — the continuous-ingestion shape at 100 TB, where
    * re-deduping the whole corpus per batch is a non-starter.
    *
    * Returns (id_a, id_b, jaccard) with id_a always a batch doc; id_b is a
    * corpus doc or a batch doc with id_a < id_b. Corpus shingles are
    * PRUNED to candidate-matched docs before verification (a semi join —
    * point lookups against the state table, not a scan of history).
    *
    * Shingle df-caps are applied per side (the corpus cap was fixed at
    * state-build time; the batch caps within itself) — the declared
    * semantics of capped-shingle Jaccard carry over side-locally.
    */
  def minhashLshIncremental(batch: DataFrame, corpusBands: DataFrame,
                            corpusShingles: DataFrame, textCol: String,
                            idCol: String, k: Int, threshold: Double,
                            bands: Int = 8, rowsPerBand: Int = 4,
                            maxDf: Int = 100,
                            portable: Boolean = false): DataFrame = {
    val (bBands, bSh) = minhashState(batch, textCol, idCol, k, bands,
      rowsPerBand, maxDf, portable)
    minhashLshIncrementalFromState(bBands, bSh, corpusBands, corpusShingles,
      idCol, threshold)
  }

  /** [[minhashLshIncremental]] with the batch's state precomputed (e.g. by
    * the caller who will also persist it — avoids shingling the batch
    * twice). `batchShingles`/`batchBands` must be materialized.
    */
  def minhashLshIncrementalFromState(batchBands: DataFrame,
                                     batchShingles: DataFrame,
                                     corpusBands: DataFrame,
                                     corpusShingles: DataFrame, idCol: String,
                                     threshold: Double): DataFrame = {
    val bSh = batchShingles
    val bBands = batchBands
    val vsCorpus = bBands.alias("x")
      .join(corpusBands.withColumnRenamed(idCol, "id_b").alias("y"), Seq("band_key"))
      .select(col(s"x.$idCol").as("id_a"), col("id_b"))
      .distinct()
    val inBatch = bBands.alias("x").join(bBands.alias("y"), Seq("band_key"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    // eager localCheckpoint (not cache): cand backs the lazily returned
    // verification result from two consumers; blocks are
    // ContextCleaner-reclaimed once the result is dropped.
    val cand = vsCorpus.union(inBatch).localCheckpoint(true)
    // only corpus docs that actually matched a band need their shingles
    // back for verification — ids are disjoint across sides, so one union
    // feeds verifyJaccard for both pair kinds. unionByName, NOT union:
    // dropHotKeys' USING join reorders columns to (shingle, id), and a
    // positional union would silently swap the corpus rows' columns.
    val matchedOld = corpusShingles
      .join(cand.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_semi")
    // verification reads this from three consumers (sizes + both join
    // sides), and the semi join shouldn't re-run per consumer — eager
    // localCheckpoint for the same no-unpersist-site reason as cand
    val shAll = bSh.unionByName(matchedOld).localCheckpoint(true)
    verifyJaccard(cand, shAll, idCol, threshold)
  }

  /** Exact-Jaccard verification of candidate pairs against shingle sets. */
  def verifyJaccard(cand0: DataFrame, sh: DataFrame, idCol: String,
                    threshold: Double): DataFrame = {
    // the candidate set feeds the intersection join AND the outer
    // left-join; unmaterialized, the whole LSH candidate pipeline would
    // run once per consumer. Eager localCheckpoint — the verified pairs
    // are returned lazily, so there is no unpersist site for a cache.
    val cand = cand0.localCheckpoint(true)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(idCol).as("id_a"), col("shingle"))
    val b = sh.select(col(idCol).as("id_b"), col("shingle"))
    val inter = cand.join(a, "id_a").join(b, Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    cand.join(inter, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        // union size can reach 0 only under caller misuse (one id with
        // shingle rows on BOTH sides of a pair) — null out and filter
        // rather than dividing by zero under ANSI
        when(col("n_a") + col("n_b") > col("n_inter"),
          col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 64-bit SimHash over the token stream: bit j of the signature is the
    * sign of the sum over tokens of (+1/-1 per token-hash bit j). Native
    * codegen'd expression — one pass per row (graft.functions.SimHash64).
    * `portable = true` uses the md5 token hash (oracle-reproducible).
    */
  def simhash(toks: Column, portable: Boolean = false): Column =
    graft.functions.simhash64(toks, portable)

  /** SimHash near-dup pairs. Candidate generation splits the 64-bit
    * signature into `maxHamming + 1` blocks — by pigeonhole, any pair
    * within the hamming bound agrees on at least one whole block, so block
    * collision has FULL recall at the declared bound (r1 advice: 4 fixed
    * blocks silently lost recall for maxHamming > 3). Candidates are then
    * verified by exact hamming distance.
    *
    * `maxBucket` caps the population of one (block index, block value)
    * bucket: a duplicate cluster shares every block, and an uncapped
    * self-join over its bucket is quadratic in the cluster size on one
    * shuffle key. Clusters larger than the cap are EXCLUDED from fuzzy
    * candidates by declared semantics — run [[exact]] first; exact
    * duplicates are its job, at one shuffle instead of a quadratic join.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000,
                   portable: Boolean = false): DataFrame = {
    val blocks = maxHamming + 1
    require(blocks <= 64, "maxHamming must be < 64")
    // the per-row simhash runs ONCE: dropHotKeys reads its input twice
    // (hot-key aggregate + kept side), so an unmaterialized sig stream
    // would re-tokenize and re-hash the whole corpus for the aggregate
    // (the minhashLsh cache-before-cap discipline, r15). One row per doc
    // here — the cheap explode reruns off the checkpoint instead.
    val sigs = graft.Tables.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), simhash(TextAnalysis.tokens(col(textCol)), portable).as("sig"))
      .localCheckpoint(true)
    // block b covers bits [b*64/blocks, (b+1)*64/blocks) — widths differ by
    // at most one bit when 64 % blocks != 0
    val blockKeys = pigeonholeBlockKeys(col("sig"), blocks)
    // materialized like minhashLsh's banded side: both aliases of the
    // self-join would otherwise re-run the explode per consumer. Eager
    // localCheckpoint so the blocks backing the lazy pair result are
    // ContextCleaner-reclaimed.
    val blocked = dropHotKeys(
      sigs.select(col(idCol), col("sig"), explode(blockKeys).as("block_key")),
      "block_key", maxBucket).localCheckpoint(true)
    val cand = blocked.alias("x").join(blocked.alias("y"), Seq("block_key"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Perceptual (dHash) near-dup pairs over visual signatures — the
    * multimodal twin of [[simhashPairs]], closing the dedup × media gap:
    * `hashes` is [[graft.operators.Multimodal.visualHashes]] output (or
    * any (id, grid: array<int>, dhash: long) frame — one row per image
    * or sampled video frame; null-hash rows are skipped).
    *
    * Candidates come from the same pigeonhole banding as simhash (any
    * pair within `maxHamming` agrees on one of maxHamming+1 signature
    * blocks — full recall at the bound), with the same hot-bucket cap
    * (a pile of identical flat images would otherwise make one bucket
    * quadratic). Verification is two-stage: exact Hamming on the 64-bit
    * signature, then EXACT PIXEL DISTANCE — mean absolute luma
    * difference over the downscaled grids (`grid_l1`, in the 0..255000
    * ITU-601×1000 cell units) — so two images with coincidentally equal
    * gradient signs but different content cannot pair. Grids are
    * gw·gh-bounded arrays, so the verify is map-side arithmetic on the
    * candidate set, never a payload join.
    */
  /** Bit range of pigeonhole block `blk` of `blocks` over a 64-bit
    * signature: (low bit, value mask). The single source of truth for
    * the banding geometry — [[pigeonholeBlockKeys]] and
    * [[MediaHashStore]]'s partition layout both derive from it.
    */
  private[operators] def blockMask(blk: Int, blocks: Int): (Int, Long) = {
    val lo = blk * 64 / blocks
    val hi = (blk + 1) * 64 / blocks
    (lo, if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L)
  }

  /** The pigeonhole block keys of a 64-bit signature column: any pair
    * within `blocks − 1` Hamming distance agrees on at least one whole
    * block, so block-key collision has full recall at that bound.
    * Shared by [[simhashPairs]], [[dhashPairs]] and [[dhashScreen]].
    */
  private def pigeonholeBlockKeys(sig: Column, blocks: Int): Column =
    array((0 until blocks).map { blk =>
      val (lo, mask) = blockMask(blk, blocks)
      concat_ws(":", lit(blk), shiftrightunsigned(sig, lo).bitwiseAND(mask))
    }: _*)

  /** The two-stage dHash verify shared by [[dhashPairs]],
    * [[dhashScreen]] and [[MediaHashStore.screenUnits]]: exact Hamming
    * on the 64-bit signatures, then exact mean-absolute distance over
    * the perceptual grids.
    */
  private[graft] def dhashVerify(cand: DataFrame, maxHamming: Int,
                                 maxL1: Double): DataFrame =
    cand
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .withColumn("grid_l1",
        aggregate(zip_with(col("grid_a"), col("grid_b"),
            (a, b) => abs(a - b).cast("long")),
          lit(0L), (acc, d) => acc + d).cast("double") / size(col("grid_a")))
      .filter(col("grid_l1") <= maxL1)
      .select(col("id_a"), col("id_b"), col("hamming"),
        round(col("grid_l1"), 6).as("grid_l1"))

  def dhashPairs(hashes: DataFrame, idCol: String, maxHamming: Int = 3,
                 maxL1: Double = 12750.0, maxBucket: Int = 1000): DataFrame = {
    val blocks = maxHamming + 1
    // the lower bound matters as much as the upper: a negative bound
    // gives zero blocks, whose empty explode would silently report "no
    // duplicates" instead of rejecting the caller's sign bug
    require(maxHamming >= 0 && blocks <= 64, "maxHamming in [0, 64)")
    // the decode+hash codec pass runs ONCE: dropHotKeys reads its input
    // twice (hot-key aggregate + kept side), and the upstream here is
    // typically a synthesize/decode/dHash chain over real media bytes —
    // the most expensive per-row work in the engine (the minhashLsh
    // cache-before-cap discipline, r15). One row per unit; the explode
    // reruns cheaply off the checkpoint.
    val sigs = hashes.filter(col("dhash").isNotNull)
      .select(col(idCol), col("grid"), col("dhash").as("sig"))
      .localCheckpoint(true)
    val blockKeys = pigeonholeBlockKeys(col("sig"), blocks)
    // materialized for the same reason as simhashPairs: both self-join
    // aliases would otherwise re-run the explode per consumer
    val blocked = dropHotKeys(
      sigs.select(col(idCol), col("sig"), col("grid"),
        explode(blockKeys).as("block_key")),
      "block_key", maxBucket).localCheckpoint(true)
    val cand = blocked.alias("x").join(blocked.alias("y"), Seq("block_key"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"),
        col("x.grid").as("grid_a"), col("y.grid").as("grid_b"))
      .distinct()
    dhashVerify(cand, maxHamming, maxL1)
  }

  /** Screen a BATCH of perceptual hashes against a COMMITTED store — the
    * incremental twin of [[dhashPairs]] (the minhash-state /
    * AnnIndex.screenIvf shape for media): returns (id_a = batch id,
    * id_b = store id, hamming, grid_l1) for every batch unit within
    * `maxHamming` AND `maxL1` of a committed one. Banding is the same
    * pigeonhole split, so recall at the Hamming bound is full — which
    * is what makes the screen its own re-delivery guard (a re-delivered
    * unit matches its committed copy at distance 0).
    *
    * Two regimes, decided from the EXACT exploded-batch byte size (one
    * count+max aggregate on the batch — callers hand a pinned frame, so
    * the extra job is a cheap readback; plan statistics mis-estimate in
    * both directions around aggregates, the RetrievePipeline lesson):
    * a batch under `maxBroadcastBytes` BROADCASTS, so the store never
    * shuffles — the join is map-side over the store scan, per-batch
    * cost tracks the batch, and a hot store bucket is no funnel (its
    * matches fan out across the store's own partitions). A batch past
    * the bound (an AvailableNow backlog drain can deliver a
    * corpus-sized "micro-batch" — r9 advice: the forced broadcast would
    * exceed Spark's limits and fail the stream) falls back to the
    * shuffle equi-join on block_key, the [[dhashPairs]] shape.
    *
    * The bound is a FEASIBILITY cap (default 256 MB), deliberately NOT
    * the session's autoBroadcastJoinThreshold: that 10 MB heuristic
    * prices broadcast against a same-sized shuffle, but here the
    * alternative shuffles the STORE — the big side by contract.
    * Measured at a 1M-unit store (SURVEY.md §8.9): a 10k-unit batch
    * explodes to ~15 MB, and "respecting" the 10 MB heuristic turned
    * its 1.4 s broadcast screen into a 10.9 s store shuffle — the
    * fallback exists to keep an oversized drain from FAILING, not to
    * re-plan batches the driver holds trivially.
    */
  def dhashScreen(batch: DataFrame, store: DataFrame, idCol: String,
                  maxHamming: Int = 3, maxL1: Double = 12750.0,
                  maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    val blocks = maxHamming + 1
    require(maxHamming >= 0 && blocks <= 64, "maxHamming in [0, 64)")
    def sided(df: DataFrame, side: String) =
      df.filter(col("dhash").isNotNull)
        .select(col(idCol).as(s"id_$side"), col("grid").as(s"grid_$side"),
          col("dhash").as(s"sig_$side"))
        .withColumn("block_key",
          explode(pigeonholeBlockKeys(col(s"sig_$side"), blocks)))
    // exact bytes: blocks exploded rows per unit, each carrying the grid
    // (4 bytes/cell), the 8-byte signature, the 8-byte id, the block-key
    // string and row overhead (~64)
    val bStats = batch.filter(col("dhash").isNotNull)
      .agg(count(lit(1)), max(size(col("grid")))).head()
    val nUnits = bStats.getLong(0)
    val cells = if (bStats.isNullAt(1)) 0L else bStats.getInt(1).toLong
    val batchBytes = BigInt(nUnits) * blocks * (4L * cells + 8L + 8L + 64L)
    val bSide = sided(batch, "a")
    val cand = (if (batchBytes <= maxBroadcastBytes)
        sided(store, "b").join(broadcast(bSide), Seq("block_key"))
      else sided(store, "b").join(bSide, Seq("block_key")))
      .drop("block_key").distinct()
    dhashVerify(cand, maxHamming, maxL1)
  }

  /** Canonical representative per document from a near-dup PAIR set:
    * connected components by iterative min-label propagation (each round,
    * every node takes the minimum label among itself and its neighbors;
    * rounds needed = graph diameter, and near-dup clusters are dense, so
    * convergence is fast). Returns (id, rep_id) for EVERY document — docs
    * in no pair represent themselves.
    *
    * This is the scale-correct OUTPUT for dedup: a pair list is quadratic
    * in duplicate-cluster size (the retired scale probe's 16x corpus,
    * `git show 7ea0927:src/main/scala/graft/ScaleProbe.scala`, emits 665k
    * pairs from 80k docs), the keep-list is linear. Each round is one
    * shuffle-join + aggregate; the driver loop only reads a convergence
    * count, never the data.
    *
    * Edge sets at or under `driverEdgeCap` (measured, not guessed — the
    * edge count is materialized anyway) take a driver-side union-find fast
    * path instead: one collect of the bounded edge list replaces ~5 jobs
    * per propagation round. Long ids only on that path; both paths emit
    * identical min-label representatives (spec-checked).
    */
  def clusterReps(df: DataFrame, pairs: DataFrame, idCol: String,
                  maxRounds: Int = 20, driverEdgeCap: Long = 1L << 20): DataFrame = {
    // both edge directions from ONE pass over pairs (explode, not a
    // 2-branch union): the pair set may be a whole LSH pipeline, and a
    // union would evaluate it twice — or force an extra cache+materialize
    // round-trip to avoid that. Endpoints outside df are filtered (semi
    // join on b; a-only rows drop at the final attach): when a caller
    // passes pairs computed BEFORE a filter on df, a removed doc must not
    // become (or relay) a phantom representative.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("a"), col("id_b").as("b")),
        struct(col("id_b").as("a"), col("id_a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .join(df.select(col(idCol).as("b")), Seq("b"), "left_semi")
      .cache()
    val nEdges = edges.count()
    // Small-graph fast path: pair sets under the cap union-find on the
    // driver in one pass — the same bounded small-side move as a broadcast
    // join (the count above makes the bound a measured fact, not a guess).
    // A dedup pair list is already capped by the LSH bucket guards, so in
    // practice only corpus-scale jobs take the iterative path below; both
    // paths produce the identical min-label representatives.
    if (nEdges <= driverEdgeCap)
      return clusterRepsLocal(df, edges, idCol)
    // only docs that appear in a pair participate in propagation — the
    // (typically much larger) isolated remainder is attached as
    // self-representing at the end, instead of dead weight in every round
    //
    // Each round references the previous round's labels THREE times (the
    // neighbor join, the left side, and the pointer-jump lookup), so the
    // logical plan grows ~3^round without intervention and Catalyst
    // analysis time — not execution — becomes the bottleneck (measured:
    // a 500k-line plan by round 2). Eager localCheckpoint truncates the
    // lineage to a materialized RDD each round, the same move GraphFrames'
    // connected-components makes; a cluster deployment that must survive
    // executor loss would use reliable checkpoint(dir) instead.
    // init IS the first neighbor step: comp_0(id) = min(id, neighbors) in
    // one aggregation — this subsumes the distinct a plain id-list init
    // needs, and starts the loop one propagation round ahead
    var labels = edges.groupBy(col("a")).agg(min(col("b")).as("nmin"))
      .select(col("a").as("id"), least(col("a"), col("nmin")).as("comp"))
      .localCheckpoint(true)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val nbrMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy("a").agg(min("comp").as("nmin"))
      val viaNbr = labels.join(nbrMin, labels("id") === nbrMin("a"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("c1"))
      // pointer-jumping: also adopt the label of the current label (read
      // from the materialized previous round) — doubles the propagated
      // distance every other round, giving O(log diameter) convergence on
      // long chains while dense clusters still finish in 2-3 rounds
      val lblComp = labels.select(col("id").as("c1"), col("comp").as("lbl_comp"))
      val updated = viaNbr.join(lblComp, Seq("c1"), "left")
        .select(col("id"), col("comp"),
          least(col("c1"), coalesce(col("lbl_comp"), col("c1"))).as("comp2"))
        // materialize + cut lineage; superseded rounds' blocks are
        // reclaimed by the ContextCleaner once unreferenced (labels rows
        // are two longs per pair-member doc, so a few in-flight copies are
        // noise next to the corpus — the same tradeoff GraphFrames makes)
        .localCheckpoint(true)
      changed = updated.filter(col("comp2") < col("comp")).count()
      labels = updated.select(col("id"), col("comp2").as("comp"))
      round += 1
    }
    edges.unpersist() // before the convergence check: no leak on throw
    require(changed == 0,
      s"clusterReps did not converge within $maxRounds doubling rounds " +
        "(astronomical component diameter) — raise maxRounds")
    df.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("rep_id"))
  }

  /** Driver-side union-find for [[clusterReps]]' small-graph fast path:
    * exact min-label components of a bounded, already-materialized edge
    * set. The label map broadcasts back; docs in no pair self-represent.
    */
  private def clusterRepsLocal(df: DataFrame, edges: DataFrame,
                               idCol: String): DataFrame = {
    // Restrict to edges whose SOURCE endpoint is also in df: the iterative
    // path keeps phantom-source edges but their labels never reach real
    // nodes (phantom labels flow nowhere), so components over real-real
    // edges are the semantics both paths share. Select by name — the semi
    // join's USING column leads the output.
    val es = edges.join(df.select(col(idCol).as("a")), Seq("a"), "left_semi")
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    edges.unpersist()
    val uf = new MinLabelUnionFind
    es.foreach { case (a, b) => uf.union(a, b); uf.add(a); uf.add(b) }
    val labels = uf.labels
    val spark = df.sparkSession
    import spark.implicits._
    val repDf = labels.toDF(idCol, "comp")
    df.select(col(idCol))
      .join(broadcast(repDf), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("rep_id"))
  }

  /** Embedding near-dup: SRP-LSH buckets (multi-probe via several seeds) +
    * exact cosine verify with graft's native expression.
    *
    * `maxBucket` caps per-bucket population (see [[simhashPairs]]): an
    * embedding duplicate cluster lands in one bucket of every table and
    * would otherwise explode the candidate self-join quadratically on a
    * single shuffle key. Oversized buckets are dropped from candidate
    * generation by declared semantics — exact-duplicate clusters belong to
    * [[exact]] (or a vector-digest groupBy), not the fuzzy pass.
    */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       threshold: Double, bits: Int = 12, tables: Int = 4,
                       maxBucket: Int = 1000, portable: Boolean = false): DataFrame = {
    import graft.functions.{cosine_similarity, srp_signature}
    // Candidate generation stays narrow: only (id, bucket) pairs flow
    // through the self-join and the distinct — carrying the vectors through
    // those shuffles would multiply shuffle bytes by the embedding width.
    // Vectors are re-attached once per surviving candidate pair.
    // The `tables` SRP signatures (bits hyperplane dot products each) are
    // computed INSIDE the checkpoint: dropHotKeys reads its input twice
    // (hot-key aggregate + kept side), so buckets derived outside would
    // re-run the hyperplane arithmetic over the corpus per consumer (the
    // minhashLsh cache-before-cap discipline, r15); the explode reruns
    // cheaply off the checkpointed array column.
    // eager localCheckpoint (materializes before concurrent consumers;
    // blocks reclaimed with the lazy result — no unpersist site)
    val bucketKeys = array((0 until tables).map { t =>
      concat_ws(":", lit(t), srp_signature(col(vecCol), bits, seed = 42L + t, portable))
    }: _*)
    val vecs = graft.Tables.fanOut(df.select(col(idCol), col(vecCol)))
      .withColumn("__buckets", bucketKeys)
      .localCheckpoint(true)
    val sigs = dropHotKeys(
      vecs.select(col(idCol), explode(col("__buckets")).as("bucket")),
      "bucket", maxBucket)
    val cand = sigs.alias("x").join(sigs.alias("y"), Seq("bucket"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    cand
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("vec_b")), "id_b")
      .withColumn("cosine", cosine_similarity(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }
}
