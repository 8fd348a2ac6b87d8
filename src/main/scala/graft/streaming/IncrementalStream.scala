package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.pipeline.BatchEtl
import graft.warehouse.{RunId, Warehouse}

/** The reference's incremental model (SURVEY.md §2.9) generalized to
  * Structured Streaming: a file-source stream over the input directory,
  * `Trigger.AvailableNow` (drain everything, then stop — the streaming
  * equivalent of the reference's batch re-run), and the K2 idempotent
  * anti-join append inside `foreachBatch`. State is the target table
  * itself, so no watermark or state store is needed: re-delivered or
  * duplicate rows collapse against the committed table exactly like
  * `INSERT OR IGNORE`.
  *
  * Also provides the event-time windowed aggregation path with a
  * watermark, for true unbounded streams.
  */
object IncrementalStream {

  private val rawSchema = StructType(Seq(
    StructField("nombre", StringType), StructField("edad", StringType),
    StructField("ciudad", StringType)))

  /** Incremental validating load: every micro-batch runs the batch
    * path's own per-batch body ([[BatchEtl.processBatch]]) with the
    * relational reason vocabulary; `run_id` is the micro-batch id.
    */
  def run(spark: SparkSession, warehouse: Warehouse, inputDir: String,
          checkpointDir: String, minAge: Int = 25): StreamingQuery = {
    val etl = new BatchEtl(spark, warehouse, minAge)
    val stream = spark.readStream
      .option("header", "true")
      .schema(rawSchema)
      .csv(inputDir)

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        etl.processBatch(batch, s"stream_batch_$batchId", s"batch_$batchId",
          RunId.isoNow(), batchReasons = false)
        ()
      }
      .start()
  }

  /** Event-time tumbling-window aggregation over an unbounded event
    * stream, with a watermark bounding state: the streaming form of
    * ReferenceQueries.eventsWindowAgg.
    */
  def windowedEventCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // decimal funnel like the batch form: double addition is not
        // associative, decimal sums are partition-order independent
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(38, 4)))
          .cast("double").as("total_value"))

  /** Streaming per-source admission quota — the unbounded form of
    * `CorpusOps.domainCap`: at most `quota` documents per source are
    * admitted over the stream's lifetime. State is ONE counter per
    * source (constant size — nothing about admitted docs is retained),
    * so state grows with the number of sources, never with the stream.
    * Within a micro-batch, admission order is lowest-id-first — the
    * deterministic tie-break every graft operator uses.
    */
  final case class Doc(source: String, doc_id: Long)

  def quotaAdmit(docs: DataFrame, quota: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, streaming}
    implicit val docEnc = Encoders.product[Doc]
    implicit val longEnc = Encoders.scalaLong
    implicit val strEnc = Encoders.STRING
    docs.select(col("source").cast("string").as("source"),
        col("doc_id").cast("long").as("doc_id"))
      .as[Doc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, Doc](
        streaming.OutputMode.Append, streaming.GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[Doc], state: streaming.GroupState[Long]) =>
          val used = state.getOption.getOrElse(0L)
          val room = quota - used
          if (room <= 0L) Iterator.empty
          else {
            val admitted = batch.toSeq.sortBy(_.doc_id).take(room.toInt)
            state.update(used + admitted.length)
            admitted.iterator
          }
      }
      .toDF("source", "doc_id")
  }

  final case class WinTok(ts: java.sql.Timestamp, wstart: java.sql.Timestamp,
                          wend: java.sql.Timestamp, token: String)
  final case class HeavyHit(window_start: java.sql.Timestamp, token: String,
                            est_count: Long)

  /** Streaming heavy hitters per event-time window: a Misra-Gries summary
    * per window accumulates across micro-batches (state is the BOUNDED
    * sketch — `capacity` counters per open window, independent of stream
    * volume, the streaming face of `Sketches.heavyHitters`), and the
    * window's top-k emits exactly once when the watermark passes its end
    * (event-time timeout). MG guarantees every token with true count >
    * N/capacity survives; estimates undercount by ≤ the decrement total.
    * Determinism: batch tokens fold in (token) order and ties emit
    * alphabetically.
    */
  def windowedHeavyHitters(events: DataFrame, tokenCol: String, tsCol: String,
                           windowLength: String, capacity: Int, k: Int,
                           watermarkDelay: String = "10 minutes"): Dataset[HeavyHit] = {
    import org.apache.spark.sql.{Encoders, streaming}
    implicit val inEnc = Encoders.product[WinTok]
    implicit val outEnc = Encoders.product[HeavyHit]
    implicit val keyEnc = Encoders.scalaLong
    implicit val stEnc = Encoders.kryo[Map[String, Long]]
    events
      .select(col(tsCol).as("ts"),
        window(col(tsCol), windowLength).getField("start").as("wstart"),
        window(col(tsCol), windowLength).getField("end").as("wend"),
        col(tokenCol).cast("string").as("token"))
      // watermark on the RAW event time, applied after the projection
      // (the tag must live on a retained column; tagging before the
      // select is dropped, and tagging wstart would make every later
      // batch of an open window "late")
      .withWatermark("ts", watermarkDelay)
      .as[WinTok]
      .groupByKey(_.wstart.getTime)
      .flatMapGroupsWithState[Map[String, Long], HeavyHit](
        streaming.OutputMode.Append, streaming.GroupStateTimeout.EventTimeTimeout) {
        (wstartMs: Long, batch: Iterator[WinTok],
         state: streaming.GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.get
            state.remove() // window closed: nothing survives
            counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
              .map { case (t, c) =>
                HeavyHit(new java.sql.Timestamp(wstartMs), t, c) }.iterator
          } else {
            var counts = state.getOption.getOrElse(Map.empty[String, Long])
            var wend: java.sql.Timestamp = null
            batch.toSeq.sortBy(_.token).foreach { wt =>
              wend = wt.wend
              counts.get(wt.token) match {
                case Some(c) => counts = counts.updated(wt.token, c + 1L)
                case None if counts.size < capacity =>
                  counts = counts.updated(wt.token, 1L)
                case None => // MG decrement: all counters down one, drop zeros
                  counts = counts.view.mapValues(_ - 1L).filter(_._2 > 0L).toMap
              }
            }
            state.update(counts)
            // flush when the watermark passes the window end
            state.setTimeoutTimestamp(wend.getTime)
            Iterator.empty
          }
      }
  }

  final case class SessEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                                 session_end: java.sql.Timestamp, n_events: Long)
  final case class SessState(start: Long, last: Long, n: Long)

  /** Stateful streaming sessionization — the unbounded form of the batch
    * sessionizer (ev_sessionize): per user, events closer than `gapMin`
    * minutes belong to one session; a session CLOSES (and is emitted)
    * either when a later in-stream event opens the next one, or when the
    * event-time watermark passes `last + gap` (the timeout path — no
    * terminating event is ever required, which is what makes this a
    * streaming operator and not a window over a finished table).
    *
    * State per user is three longs — O(active users), never O(events).
    * Within a micro-batch events are walked in event-time order;
    * cross-batch stragglers newer than the watermark extend the open
    * session (their lateness is bounded by `watermarkDelay`); rows older
    * than the watermark are dropped by the engine before reaching the
    * state function — the declared streaming contract.
    */
  def streamingSessionize(events: DataFrame, gapMin: Int = 30,
                          watermarkDelay: String = "10 minutes"): Dataset[ClosedSession] = {
    import org.apache.spark.sql.{Encoders, streaming}
    implicit val inEnc = Encoders.product[SessEvent]
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val keyEnc = Encoders.scalaLong
    implicit val stEnc = Encoders.product[SessState]
    val gapMs = gapMin * 60000L
    events
      .select(col("user_id").cast("long").as("user_id"), col("ts").as("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, ClosedSession](
        streaming.OutputMode.Append, streaming.GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[SessEvent],
         state: streaming.GroupState[SessState]) =>
          def close(s: SessState) = ClosedSession(uid,
            new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.n)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(s))
          } else {
            var out = List.empty[ClosedSession]
            var st = state.getOption.orNull
            // late in-watermark events can predate the open session's
            // start (cross-batch arrival order). Two regimes, both
            // matching the batch sessionizer (which would have sorted
            // them first): within a gap of the start, the event folds in
            // by extending the session BACKWARD; MORE than a gap before
            // the start (reachable whenever watermarkDelay > gap·period),
            // it goes to a separate earlier chain — accumulated in `late`
            // with its own gap splitting. The late-vs-open routing is
            // judged against the start AT THAT MOMENT, and a later
            // in-batch event can backward-extend the open session into
            // gap range of the late chain (gap 30m, state start 3:00,
            // batch [2:20, 2:40]: 2:20 routes late, 2:40 folds in and
            // moves the start to 2:40, and now 2:40 − 2:20 ≤ gap) — so
            // at batch end the FINAL late chain re-checks against the
            // FINAL start and merges instead of closing when it reaches
            // it; only a chain still > gap away closes as its own
            // session. Earlier late chains stay closed correctly: chains
            // ascend with > gap between them, so only the last can reach
            // the extended start. Ascending processing also means
            // backward extension can't create new lateness mid-batch:
            // t₂ < min(s0,t₁) − gap ≤ t₁ − gap implies t₂ < t₁.
            var late: SessState = null
            batch.toSeq.sortBy(e => (e.ts.getTime, e.user_id)).foreach { e =>
              val t = e.ts.getTime
              st match {
                case null => st = SessState(t, t, 1L)
                case SessState(s0, _, _) if t < s0 - gapMs =>
                  late match {
                    case null => late = SessState(t, t, 1L)
                    case SessState(ls, ll, ln) if t - ll > gapMs =>
                      out ::= close(SessState(ls, ll, ln))
                      late = SessState(t, t, 1L)
                    case SessState(ls, ll, ln) =>
                      late = SessState(ls, math.max(ll, t), ln + 1L)
                  }
                case SessState(s0, l, n) if t - l > gapMs =>
                  out ::= close(SessState(s0, l, n))
                  st = SessState(t, t, 1L)
                case SessState(s0, l, n) =>
                  st = SessState(math.min(s0, t), math.max(l, t), n + 1L)
              }
            }
            if (late != null) {
              if (st != null && st.start - late.last <= gapMs)
                st = SessState(late.start, st.last, st.n + late.n)
              else out ::= close(late)
            }
            state.update(st)
            state.setTimeoutTimestamp(st.last + gapMs)
            out.reverse.iterator
          }
      }
  }

  /** Watermarked stream-stream interval join — event attribution: each
    * `effectType` event matches the `causeType` events of the same user
    * in the `horizon` window before it (click-to-impression, purchase-
    * to-view — the canonical streaming correlation).
    *
    * Scale shape: both sides carry watermarks and the join condition
    * bounds `effect_ts − cause_ts` to [0, horizon], so Spark derives a
    * state-eviction bound for BOTH state stores — state is
    * O(rate × (watermark + horizon)) regardless of stream age. Without
    * the two-sided time bound a stream-stream inner join must keep one
    * side forever; this operator exists precisely to encode the bounded
    * form. The join itself is a keyed shuffle on `user_id`, the same
    * partitioning the sessionizer uses.
    */
  def attributionJoin(events: DataFrame, causeType: String, effectType: String,
                      horizon: String = "30 minutes",
                      watermark: String = "1 hour"): DataFrame = {
    val cause = events.filter(col("event_type") === causeType)
      .select(col("user_id"), col("event_id").as("cause_id"), col("ts").as("cause_ts"))
      .withWatermark("cause_ts", watermark)
    val effect = events.filter(col("event_type") === effectType)
      .select(col("user_id").as("effect_user"), col("event_id").as("effect_id"),
        col("ts").as("effect_ts"))
      .withWatermark("effect_ts", watermark)
    cause.join(effect,
      col("user_id") === col("effect_user") &&
        col("effect_ts") >= col("cause_ts") &&
        col("effect_ts") <= col("cause_ts") + expr(s"interval $horizon"))
      .select(col("user_id"), col("cause_id"), col("cause_ts"),
        col("effect_id"), col("effect_ts"))
  }

  /** Streaming exact dedup: the unbounded form of the K2 dedup-on-write
    * primitive. State is bounded by the watermark — a duplicate arriving
    * within the watermark horizon is dropped; later re-deliveries are the
    * idempotent-append anti-join's job (the two compose: in-flight dedup
    * here, committed-table dedup at the sink).
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String], tsCol: String,
                           watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming DECONTAMINATION ingestion: every micro-batch is screened
    * against a PERSISTED benchmark artifact
    * ([[graft.operators.Decontam.buildBenchArtifact]] — shingle table +
    * bloom, built once when the benchmark ships) and only clean docs
    * commit. The bench side costs a bounded artifact read per batch, the
    * batch side one map-only bloom probe + exact verification join — the
    * eval-leakage firewall at the INGESTION boundary rather than as a
    * corpus-wide sweep later.
    *
    * Same durability protocol as [[fuzzyDedupIngest]]: accepted docs
    * write under `outDir/docs/ingest=<key>` with a `_commits` marker
    * (unmarked orphans are invisible and self-heal on re-delivery — the
    * deterministic batchId+content key overwrites in place), and an id
    * already committed is dropped outright (exact re-delivery).
    */
  def decontamIngest(stream: DataFrame, artifactDir: String, outDir: String,
                     checkpointDir: String, textCol: String = "text",
                     idCol: String = "doc_id", k: Int = 8,
                     minShared: Long = 1,
                     portable: Boolean = false,
                     compactEvery: Int = 0,
                     compactWhenUncompactedExceeds: Int = 64): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val sp = batch0.sparkSession
        val runKey = auditRunKey(sp, checkpointDir)
        // per-batch lease (the growth-lane discipline): a direct
        // compactDecontamCorpus during a live drain refuses instead of
        // racing this batch's commit; the in-batch trigger below passes
        // through re-entrantly
        graft.operators.Lease.withLease(sp, outDir, s"decontam:$runKey") {
          // opening heals a compaction crashed mid-swap (the whole
          // corpus parked at __old)
          val store = graft.operators.StoreProtocol.open(sp, outDir)
          val committed = store.keys
          var pinned = List.empty[DataFrame]
          def pin(df: DataFrame): DataFrame = { pinned ::= df.cache(); df }
          try {
            // pin the projected source once: the gate's min/max aggregate
            // and the gated frame's own materialization would otherwise
            // each re-scan the micro-batch source (review catch r13)
            val src = pin(batch0.select(col(idCol), col(textCol)))
            val batch = pin(if (committed.nonEmpty)
                gateCommittedIds(src, sp, outDir, committed, idCol, textCol)
              else src)
            if (!batch.isEmpty) {
              val dirty = graft.operators.Decontam.overlapPersisted(
                batch, artifactDir, textCol, idCol, k, minShared, portable)
                .select(col(idCol))
              val accepted = pin(batch.join(dirty, Seq(idCol), "left_anti"))
              if (!accepted.isEmpty)
                graft.operators.StoreProtocol.ingest(store, Seq("docs"),
                    batchKey(accepted, batchId, idCol)) { at =>
                  accepted.write.mode("overwrite").parquet(at("docs"))
                }
            }
            // schedule OR depth trigger (the spanIngest policy): fold the
            // per-batch docs ingests and build the bucketed gate base once
            // the flat tail outgrows the bound
            if ((compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
                || (compactWhenUncompactedExceeds > 0 &&
                  uncompactedIngests(sp, outDir, "gate_ids")
                    > compactWhenUncompactedExceeds))
              compactDecontamCorpus(sp, outDir, idCol)
          } finally pinned.foreach(_.unpersist())
        }
        ()
      }
      .start()

  /** The fuzzy-dedup state's per-ingest tables; they share each
    * ingest's commit key.
    */
  private val FuzzyTables = Seq("docs", "bands", "shingles")

  /** Streaming FUZZY dedup ingestion: every micro-batch is near-dup
    * checked against the corpus committed so far through its persisted
    * minhash state (`Dedup.minhashState` tables under `stateDir`), then
    * the accepted docs and THEIR state are committed — per-batch cost
    * tracks the batch, never the history.
    *
    * Policy: an id already committed is dropped outright (exact
    * re-delivery, the K2 idempotent-append move); a batch doc near-dup of
    * a committed doc is dropped; within a batch, each near-dup cluster
    * keeps its min-id representative (`Dedup.clusterReps`). The batch's
    * shingles are computed ONCE — they drive the matching and, filtered
    * to the accepted ids, are what gets persisted, so the stored state's
    * df-cap basis is exactly the one that was matched against. Shingle
    * caps apply per sub-batch (side-local semantics of the operator).
    *
    * Durability: parquet appends are not transactional, so each batch
    * writes its three tables under an ingest=<key> subdirectory and then
    * creates a single marker in `stateDir/_commits/` — readers only see
    * marked partitions. A crash mid-write leaves an unmarked orphan that
    * is invisible and gets overwritten when the batch re-delivers (the
    * key is deterministic per checkpoint batch + content). All state I/O
    * goes through the Hadoop filesystem of `stateDir` — object stores
    * work, not just local paths.
    */
  def fuzzyDedupIngest(stream: DataFrame, stateDir: String,
                       checkpointDir: String, textCol: String = "text",
                       idCol: String = "doc_id", k: Int = 8,
                       threshold: Double = 0.3,
                       compactEvery: Int = 0,
                       compactWhenUncompactedExceeds: Int = 64): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val sp = batch0.sparkSession
        val runKey = auditRunKey(sp, checkpointDir)
        // per-batch lease (see decontamIngest) — forgetFuzzyState /
        // compactFuzzyState contending with a live drain refuse loudly
        graft.operators.Lease.withLease(sp, stateDir, s"fuzzy:$runKey") {
          // opening heals a forgetFuzzyState crashed mid-swap (the
          // whole state parked at __old)
          val store = graft.operators.StoreProtocol.open(sp, stateDir)
          val committed = store.keys
          // this batch's OWN pinned frames, released in finally — scoped
          // cleanup, NOT catalog.clearCache(): an embedding application's
          // unrelated caches in the same session must survive each batch
          // (spec-pinned); the dedup operators' internal intermediates are
          // on the eager-localCheckpoint discipline and ContextCleaner-
          // reclaimed once the batch's references drop
          var pinned = List.empty[DataFrame]
          def pin(df: DataFrame): DataFrame = { pinned ::= df.cache(); df }
          try {
            // pin the projected source once (see decontamIngest's gate)
            val src = pin(batch0.select(col(idCol), col(textCol)))
            val batch = pin(if (committed.nonEmpty)
                gateCommittedIds(src, sp, stateDir, committed, idCol, textCol)
              else src)
            if (!batch.isEmpty) {
              // one shingle+band pass serves matching AND the persisted state
              val (bBands, bSh) = graft.operators.Dedup.minhashState(
                batch, textCol, idCol, k)
              val pairs =
                if (committed.nonEmpty)
                  graft.operators.Dedup.minhashLshIncrementalFromState(
                    bBands, bSh,
                    store.read("bands"), store.read("shingles"),
                    idCol, threshold)
                else
                  graft.operators.Dedup.verifyJaccard(
                    bBands.alias("x").join(bBands.alias("y"), Seq("band_key"))
                      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
                      .filter(col("id_a") < col("id_b")).distinct(),
                    bSh, idCol, threshold)
              val p = pin(pairs)
              p.count()
              val batchIdsB = batch.select(col(idCol).as("id_b"))
              // id_b outside the batch = a committed corpus doc -> drop id_a
              val corpusHit = p.join(batchIdsB, Seq("id_b"), "left_anti")
                .select(col("id_a").as(idCol))
              val internal = p.join(batchIdsB, Seq("id_b"), "left_semi")
              val internalDrop = graft.operators.Dedup.clusterReps(batch, internal, idCol)
                .filter(col("rep_id") =!= col(idCol)).select(col(idCol))
              val accepted = pin(batch
                .join(corpusHit.union(internalDrop).distinct(), Seq(idCol), "left_anti"))
              if (!accepted.isEmpty) {
                val acceptedIds = accepted.select(col(idCol))
                def acceptedOnly(df: DataFrame) =
                  df.join(acceptedIds, Seq(idCol), "left_semi")
                graft.operators.StoreProtocol.ingest(store, FuzzyTables,
                    batchKey(accepted, batchId, idCol)) { at =>
                  acceptedOnly(bBands).write.mode("overwrite").parquet(at("bands"))
                  // normalize to (id, shingle): dropHotKeys' USING join emits
                  // (shingle, id), and the state table is a public contract
                  acceptedOnly(bSh).select(col(idCol), col("shingle"))
                    .write.mode("overwrite").parquet(at("shingles"))
                  accepted.write.mode("overwrite").parquet(at("docs"))
                }
              }
            }
            // schedule OR depth trigger (the spanIngest policy)
            if ((compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
                || (compactWhenUncompactedExceeds > 0 &&
                  uncompactedIngests(sp, stateDir, "gate_ids")
                    > compactWhenUncompactedExceeds))
              compactFuzzyState(sp, stateDir, idCol)
          } finally {
            // release ONLY this batch's pinned frames — a long-lived stream
            // must not grow storage memory, and it must not evict caches the
            // surrounding application owns
            pinned.foreach(_.unpersist())
          }
        }
        ()
      }
      .start()

  /** The committed-id K2 gate shared by the ingest lanes (decontam,
    * fuzzy-dedup): anti-join the batch against the committed ids, with
    * TWO exact prunes layered by on-disk layout (r13 verdict #2 — the
    * between() window alone is tight for monotone feeds but degrades to
    * a full id scan on scattered-id batches):
    *
    *  - FLAT ingests (fresh appends since the last compact) read their
    *    `docs` ids range-pruned to the batch's [min, max] id window —
    *    exact for any ordered id type (an id outside the window cannot
    *    collide) and pushed to parquet row-group stats.
    *  - The COMPACTED `gate_ids` base (written by [[compactDecontamCorpus]]
    *    / [[compactFuzzyState]], partitioned `bucket = xxhash64(id) mod`
    *    the store's pinned count) reads pruned to the batch's touched
    *    buckets — a PARTITION filter that holds by construction for ANY
    *    id distribution, the StoreProtocol LSM discipline applied to the
    *    gate. The window filter still applies on top (free, exact).
    *
    * An empty batch short-circuits to an empty frame. A base whose
    * bucket dirs exceed the pinned modulus refuses loudly (the readLsm
    * guard — a silently mis-pruned gate would re-admit committed docs).
    *
    * READ POLICY (r14 verdict #2): the bucketed base is not free — leaf
    * addressing opens one file set per touched dir, a measured
    * 2.3–3.8 s constant — while the flat docs scan costs ∝ corpus but
    * starts at ~0.7 s. Below the measured crossover
    * ([[GateFlatScanCrossoverIds]], ~4–8M ids locally) the per-batch
    * choice therefore falls back to ONE range-pruned scan of every
    * visible key's docs ids; at or above it (or when the committed
    * count is unknown — old stores' gate_meta predates the counter) the
    * scatter-proof leaf prune wins. `gate_meta.committed_ids` is
    * maintained exactly by the fold (the K2 gate makes tail ids new by
    * construction), advisory by protocol: a stale count mis-prices a
    * read, never mis-answers it.
    */
  private[graft] def gateCommittedIds(batch: DataFrame, sp: SparkSession,
                                      storeDir: String,
                                      committed: Seq[String],
                                      idCol: String,
                                      textCol: String,
                                      flatScanCrossoverIds: Long =
                                        GateFlatScanCrossoverIds): DataFrame = {
    val w = batch.agg(min(col(idCol)), max(col(idCol))).head()
    if (w.isNullAt(0)) return batch.select(col(idCol), col(textCol)).limit(0)
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(sp.sparkContext.hadoopConfiguration)
    val (indexed, flat) = committed.partition(k =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$storeDir/gate_ids/ingest=$k")))
    val baseWins = indexed.nonEmpty &&
      gateMetaIdCount(sp, fs, storeDir).forall(_ >= flatScanCrossoverIds)
    val reads =
      if (indexed.nonEmpty && !baseWins)
        // below the crossover: one pruned scan over every visible key's
        // docs ids (the indexed keys' docs are their folded tables) —
        // row-group stats take the between() window
        Seq(sp.read
          .parquet(committed.map(k => s"$storeDir/docs/ingest=$k"): _*)
          .select(col(idCol)))
      else Seq(
        if (flat.isEmpty) None
        else Some(sp.read
          .parquet(flat.map(k => s"$storeDir/docs/ingest=$k"): _*)
          .select(col(idCol))),
        if (indexed.isEmpty) None
        else {
          val buckets = gateBucketsOf(sp, fs, storeDir)
          val listedIdx = indexed.map { k =>
            (k, fs.listStatus(new org.apache.hadoop.fs.Path(
              s"$storeDir/gate_ids/ingest=$k")).toSeq)
          }
          // the shared two-way modulus guard (marker + dir bound) on the
          // one listing per base — a mis-moduled prune would re-admit
          // committed docs
          listedIdx.foreach { case (k, st) =>
            graft.operators.StoreProtocol.verifyLsmModulus(st,
              s"$storeDir/gate_ids/ingest=$k", buckets)
          }
          val touched = batch
            .select(gateBucketExpr(col(idCol), buckets).as("b"))
            .distinct().collect().map(_.getInt(0)).toSet
          // LEAF bucket dirs addressed directly off the listing in hand —
          // partition discovery over a 4096-dir base costs seconds per
          // read no matter how few buckets the batch touches (the readLsm
          // lesson); a touched bucket with no dir holds nothing to veto.
          // EVERY visible generation's touched leaves read (generations
          // are additive, r15: a fold lands the tail's ids as its own
          // generation and the K2 invariant keeps ids disjoint across
          // them — there is no copy to prefer)
          val leaf = listedIdx.flatMap { case (_, st) =>
            st.filter(e =>
                e.isDirectory && e.getPath.getName.startsWith("bucket=") &&
                touched.contains(
                  e.getPath.getName.stripPrefix("bucket=").toInt))
              .map(_.getPath.toString)
          }
          if (leaf.isEmpty) None
          else Some(sp.read.parquet(leaf: _*).select(col(idCol)))
        }).flatten
    if (reads.isEmpty)
      // nothing committed overlaps the batch's touched buckets: no veto
      batch.select(col(idCol), col(textCol))
    else {
      val gate = reads.reduce(_.unionByName(_))
        .filter(col(idCol).between(lit(w.get(0)), lit(w.get(1))))
      batch.select(col(idCol), col(textCol)).join(gate, Seq(idCol), "left_anti")
    }
  }

  /** The measured flat-vs-bucketed crossover for the committed-id gate
    * (SURVEY.md §8.13, r14: flat scan 0.7–1.7 s growing with corpus;
    * leaf addressing 2.3–3.8 s flat; curves cross at ~4–8M committed
    * ids on local[32]). Stores below it gate faster through one pruned
    * docs scan; above it the bucketed base's distribution-independent
    * bound wins.
    */
  val GateFlatScanCrossoverIds = 4000000L

  /** The gate's bucket assignment: hash-then-mod, NOT the bare key mod
    * of the node/shingle stores — gate ids are caller-typed (strings
    * included) and often sequential, and xxhash64 gives both a total
    * numeric domain and a uniform spread.
    */
  private def gateBucketExpr(id: org.apache.spark.sql.Column,
                             buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(id.cast("string")), lit(buckets.toLong)).cast("int")

  /** The pinned modulus of a gate store's compacted base. `gate_ids`
    * and `gate_meta` land together (one swap or one fold), so a base
    * without its meta is a protocol violation — pruning it under a
    * GUESSED modulus could silently re-admit committed docs, the one
    * failure mode worse than refusing. Callers reach here only when
    * indexed ingests exist (r14 advice: fail loudly, don't default).
    */
  private def gateBucketsOf(sp: SparkSession,
                            fs: org.apache.hadoop.fs.FileSystem,
                            storeDir: String): Int = {
    val m = new org.apache.hadoop.fs.Path(s"$storeDir/gate_meta")
    require(fs.exists(m),
      s"$storeDir has a gate_ids base but no gate_meta — they land " +
        "together by protocol, so the meta was deleted out of band; " +
        "re-compact the store (compactDecontamCorpus/compactFuzzyState) " +
        "rather than guessing the base's modulus")
    graft.operators.StoreProtocol
      .pinnedLsmBuckets(sp.read.parquet(m.toString).head())
  }

  /** The exact committed-id count `gate_meta` carries for the read
    * policy — None when the meta (or the column) predates the counter;
    * the policy then defaults to the scatter-proof bucketed path.
    */
  private def gateMetaIdCount(sp: SparkSession,
                              fs: org.apache.hadoop.fs.FileSystem,
                              storeDir: String): Option[Long] = {
    val m = new org.apache.hadoop.fs.Path(s"$storeDir/gate_meta")
    if (!fs.exists(m)) None
    else {
      val meta = sp.read.parquet(m.toString)
      if (!meta.schema.fieldNames.contains("committed_ids")) None
      else Some(meta.head().getLong(meta.schema.fieldIndex("committed_ids")))
    }
  }

  /** Fold a gate store's flat per-batch ingests into the bucketed
    * `gate_ids` base. `tables` lists the marker-shared tables (decontam:
    * docs; fuzzy: docs/bands/shingles — they share one commit key, so
    * they must fold together or readers lose dirs). Returns (visible
    * ingests before, after).
    *
    * ADDITIVE like the span/graph folds (r14 verdict #1, sharpened in
    * r15): the tail keys' tables concatenate into one new
    * `retained_<gen>_<hash>` ingest (O(tail) — the key is monotone +
    * content-hashed, so two successive folds can never reuse one key:
    * r14 advice), its ids land bucketed as that generation's OWN
    * `gate_ids` base (no surviving generation is read or written — the
    * K2 gate keeps ids disjoint across them), and the
    * supersede flip retires the tail atomically
    * ([[graft.operators.StoreProtocol.commitIncremental]]). The
    * SMALLEST generations beyond `maxGens` fold back in
    * ([[graft.operators.StoreProtocol.planFold]]).
    * `gate_meta.committed_ids` updates exactly —
    * the K2 gate makes every tail id new by construction, so the count
    * is prior + tail (seeded by one full count on a pre-counter store);
    * it is written BEFORE the flip (a crash leaves an overcount on an
    * invisible generation — the meta is advisory, the modulus constant).
    */
  private def consolidateGateStore(sp: SparkSession, dir: String,
                                   tables: Seq[String], idCol: String,
                                   maxGens: Int): (Int, Int) = {
    val proto = graft.operators.StoreProtocol
    val store = proto.open(sp, dir)
    val fs = store.fs
    proto.sweepSuperseded(fs, store.root, tables :+ "gate_ids")
    val before = store.keys.length
    if (before == 0) return (0, 0)
    val plan = proto.planFold(fs, s"$dir/gate_ids", store.keys, maxGens,
      "retained_")
    if (!plan.due) return (before, before)
    import plan.{flat, folded, gens, key, retired}
    val buckets =
      if (gens.isEmpty) proto.WideLsmBuckets else gateBucketsOf(sp, fs, dir)
    tables.foreach { t =>
      store.read(t, retired).write.mode("overwrite").parquet(store.ingestDir(t, key))
    }
    val tailIds =
      if (flat.isEmpty) None
      else Some(store.read("docs", flat)
        .select(col(idCol)).distinct().localCheckpoint(true))
    // the folded small generations read WHOLE (they are the fold's own
    // cost, chosen smallest-first); live generations are never opened —
    // the fold is ADDITIVE (r15): the new generation holds only the
    // retired keys' ids, disjoint from every survivor by the K2 gate
    val foldedIds =
      if (folded.isEmpty) None
      else Some(proto.readLsm(sp, fs, s"$dir/gate_ids", folded,
        Seq(idCol), touched = None, buckets))
    val ids = (tailIds.toSeq ++ foldedIds.toSeq) match {
      case Nil =>
        // unreachable for a store with committed docs; typed off the
        // just-written fold so the write below still lands a schema
        sp.read.parquet(store.ingestDir("docs", key)).select(col(idCol)).limit(0)
      case pieces => pieces.reduce(_.unionByName(_)).distinct()
    }
    proto.writeLsmBaseBy(ids, gateBucketExpr(col(idCol), buckets),
      store.ingestDir("gate_ids", key), buckets)
    val tailCount = tailIds.map(_.count()).getOrElse(0L)
    val total = gateMetaIdCount(sp, fs, dir) match {
      case Some(prev) => prev + tailCount
      case None if gens.isEmpty => tailCount
      case None => // pre-counter store: one-time full seed
        proto.readLsm(sp, fs, s"$dir/gate_ids", gens, Seq(idCol),
          touched = None, buckets).count() + tailCount
    }
    writeGateMeta(sp, dir, buckets, total)
    proto.commitIncremental(fs, store.root, tables :+ "gate_ids", key, retired)
    (before, plan.live.length + 1)
  }

  /** Write the bucketed `gate_ids` base + `gate_meta` for one retained
    * ingest under a store STAGING dir — [[forgetFuzzyState]]'s rebuild
    * (which must carry the base forward or one retraction silently
    * reinstates the scattered-id full scan the base exists to prevent —
    * r14 review). The meta records the exact surviving id count for the
    * read policy.
    */
  private def writeGateBase(sp: SparkSession, base: String,
                            stagingDir: String, docs: DataFrame,
                            idCol: String): Unit = {
    val buckets = graft.operators.StoreProtocol.WideLsmBuckets
    val ids = docs.select(col(idCol)).distinct().localCheckpoint(true)
    graft.operators.StoreProtocol.writeLsmBaseBy(
      ids, gateBucketExpr(col(idCol), buckets), base, buckets)
    writeGateMeta(sp, stagingDir, buckets, ids.count())
  }

  /** The gate store's pinned modulus + exact committed-id count, one
    * row. Rewritten per fold — advisory for the count (the read policy),
    * authoritative for the modulus (which never changes incrementally).
    */
  private def writeGateMeta(sp: SparkSession, storeDir: String,
                            buckets: Int, committedIds: Long): Unit = {
    import sp.implicits._
    Seq((buckets, committedIds)).toDF("lsm_buckets", "committed_ids")
      .coalesce(1).write.mode("overwrite").parquet(s"$storeDir/gate_meta")
  }

  /** Compaction face of [[decontamIngest]]'s accepted-corpus store:
    * fold the per-batch `docs` ingests to one and index their ids as
    * the bucketed gate base ([[gateCommittedIds]]'s scatter-proof
    * prune). Lease-guarded like every maintenance entry point; the
    * lane's own in-batch trigger passes through re-entrantly.
    */
  def compactDecontamCorpus(spark: SparkSession, outDir: String,
                            idCol: String = "doc_id",
                            maxGens: Int =
                              graft.operators.StoreProtocol.MaxBaseGens): (Int, Int) =
    graft.operators.Lease.withLease(spark, outDir, "compactDecontamCorpus") {
      consolidateGateStore(spark, outDir, Seq("docs"), idCol, maxGens)
    }

  /** Compaction face of [[fuzzyDedupIngest]]'s persisted state: all
    * three marker-shared tables fold together (they share commit keys)
    * and the docs ids land as the bucketed gate base. Contents
    * unchanged — matching semantics are unaffected; this bounds the
    * partition count and makes the K2 gate prune by construction.
    */
  def compactFuzzyState(spark: SparkSession, stateDir: String,
                        idCol: String = "doc_id",
                        maxGens: Int =
                          graft.operators.StoreProtocol.MaxBaseGens): (Int, Int) =
    graft.operators.Lease.withLease(spark, stateDir, "compactFuzzyState") {
      consolidateGateStore(spark, stateDir, FuzzyTables, idCol, maxGens)
    }

  /** The audit tables' run identity: the stream's checkpoint location,
    * QUALIFIED against its filesystem (scheme + authority + absolute
    * path) so the same checkpoint spelled differently — relative vs
    * absolute, trailing slash — cannot mint a second run whose replayed
    * batches re-append rows the (run, batch_id, store) idempotent key
    * already deduped (r11 advice).
    */
  private def auditRunKey(spark: SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** A lane batch's commit key: the batch id as its generation, so a
    * same-checkpoint re-delivery mints the same key and overwrites in
    * place, plus the accepted ids' content hash, so a fresh-checkpoint
    * re-read of other content cannot collide.
    */
  private def batchKey(accepted: DataFrame, batchId: Long,
                       idCol: String): String =
    graft.operators.StoreProtocol.ingestKey("", batchId, accepted
      .agg(graft.operators.StoreProtocol.contentHash(col(idCol).cast("string")))
      .head().getString(0))

  /** Visible ingests of `storeDir/table` still in the FLAT append
    * layout — the depth every lane's compaction policy bounds: each
    * uncompacted ingest is one more flat partial in each read (for the
    * graph store, one more broadcast join in the remap chain; for the
    * gate stores, `table` is `gate_ids` and an ingest without a base is
    * one more range-pruned docs read), so a lane that never folds
    * accrues unbounded read cost. One directory listing per batch, no
    * data read.
    */
  private def uncompactedIngests(sp: SparkSession, storeDir: String,
                                 table: String): Int = {
    val store = graft.operators.StoreProtocol.open(sp, storeDir)
    graft.operators.StoreProtocol
      .splitLsmLayout(store.fs, s"$storeDir/$table", store.keys)._2.length
  }

  /** Retraction from the persisted fuzzy-dedup state
    * ([[fuzzyDedupIngest]]'s `stateDir` layout): drop the given doc ids
    * from ALL THREE state tables — docs, band keys AND shingles — so a
    * retracted document both disappears from the committed corpus and
    * STOPS BLOCKING re-admission of its own near-dups (today's ingest
    * matches new docs against the state; rows left behind would keep
    * vetoing legitimate content forever — the takedown/opt-out seam a
    * real training-data pipeline cannot run without).
    *
    * The surviving state consolidates into one `ingest=retained_<n>`
    * partition per table with a fresh commit marker, and the WHOLE
    * state directory moves through a temp-then-swap (`__old` protocol;
    * [[fuzzyDedupIngest]] heals a mid-swap crash before its next
    * batch): marker bookkeeping inside a live directory cannot be made
    * atomic — a crash between "new marker created" and "old markers
    * deleted" would double every shingle row and corrupt every Jaccard
    * size — while the directory swap is all-or-nothing. Retraction
    * rewrites the whole state by nature (a doc's rows are scattered
    * across every ingest partition); the state is hash-thin (ids +
    * 8-byte shingles, never documents' text... the docs table carries
    * text for re-screening, linear in the corpus — the same cost one
    * ingest-state compaction pays). Forgetting every committed doc
    * resets the state to empty-committed (readers see no corpus).
    * SINGLE-WRITER: run between drains, never concurrent with an
    * active ingest. Returns the number of docs removed.
    */
  def forgetFuzzyState(spark: SparkSession, stateDir: String,
                       ids: DataFrame, idCol: String = "doc_id"): Long =
    // lease-guarded like every maintenance entry point (r14 review: the
    // fuzzy lane's per-batch lease only protects drains from callers
    // that CONTEST it — an unguarded forget would swap the state out
    // from under a mid-flight batch); retractionIngest's own leased()
    // wrapper passes through re-entrantly
    graft.operators.Lease.withLease(spark, stateDir, "forgetFuzzyState") {
      val proto = graft.operators.StoreProtocol
      val store = proto.open(spark, stateDir)
      // expression form, not early returns — a non-local return from a
      // withLease closure unwinds by exception
      if (store.isEmpty) 0L
      else {
        val docs = store.read("docs")
        // cast to the STATE's key type: a string feed against long ids
        // would otherwise coerce both join sides to double and lose
        // exactness above 2^53
        val keys = ids.select(col(idCol).cast(docs.schema(idCol).dataType))
          .distinct().localCheckpoint(true)
        val removed = docs.join(keys, Seq(idCol), "left_semi").count()
        if (removed == 0L) 0L
        else {
          val survivors = removed < docs.count()
          proto.rewrite(store.fs, store.root, "__forget", "forgetFuzzyState") { tmp =>
            if (survivors)
              // monotone generation + content hash: two successive rebuilds
              // can never reuse one key (r14 advice — the old
              // retained_<count> repeated after fold/grow/fold cycles)
              proto.ingest(store.emptyAt(tmp), FuzzyTables,
                  store.nextKey("retained_", proto.keyHash(store.keys))) { at =>
                FuzzyTables.foreach { table =>
                  store.read(table).join(keys, Seq(idCol), "left_anti")
                    .write.mode("overwrite").parquet(at(table))
                }
                // the rebuild must CARRY the bucketed gate base forward
                // (r14 review): the swap replaces the whole directory, and
                // a retained ingest without gate_ids reads as flat — one
                // retraction would silently reinstate the scattered-id
                // full scan for every later batch until the depth trigger
                // re-compacts
                writeGateBase(spark, at("gate_ids"), tmp.toString,
                  spark.read.parquet(at("docs")), idCol)
              }
            else
              // everything retracted: an empty state (no markers) —
              // readers treat it exactly like a fresh stateDir
              store.fs.mkdirs(tmp)
          }
          removed
        }
      }
    }

  /** The stores a [[retractionIngest]] applies each takedown batch to.
    * Every field is optional/empty — configure the stores the pipeline
    * actually runs. `annIndexes` pairs (index dir, index id column);
    * `warehouseTables` pairs (table, key column, optional partition
    * column) against `warehouse`. `bm25Indexes` accepts BOTH persisted
    * layouts — the flat [[graft.operators.Retrieval.buildBm25Index]]
    * directory and the incremental
    * [[graft.operators.Retrieval.buildBm25Incremental]] one; the ingest
    * detects which from the on-disk markers and routes to the matching
    * forget, failing LOUDLY on a non-empty directory matching neither
    * (a misconfigured takedown feed must never silently skip a store).
    * `auditTable`, with `warehouse` set, records one row per (batch,
    * store) — the K5 etl_runs discipline applied to the compliance
    * lane; see [[retractionIngest]].
    */
  final case class RetractionTargets(
      fuzzyStateDir: Option[String] = None,
      mediaStoreDir: Option[String] = None,
      annIndexes: Seq[(String, String)] = Nil,
      bm25Indexes: Seq[String] = Nil,
      retrieveDirs: Seq[String] = Nil,
      warehouse: Option[Warehouse] = None,
      warehouseTables: Seq[(String, String, Option[String])] = Nil,
      auditTable: Option[String] = None)

  /** Streaming RETRACTION ingestion — the takedown/opt-out feed as a
    * stream, closing the loop the round-10 `forget` family opened: every
    * micro-batch of doc ids applies delete-by-key across the configured
    * stores (warehouse tables, fuzzy-dedup state, media hash store,
    * ANN indexes, BM25 indexes, retrieval-serving builds) INSIDE
    * foreachBatch — which is exactly the single-writer window every
    * forget operator documents (batches commit serially), the same
    * lifecycle move the r9 maintenance hooks made. Run it between the
    * content ingests' AvailableNow drains; never concurrently with
    * them (the forget swaps assume the single writer).
    *
    * Idempotency needs no markers: forget of an absent id is a no-op by
    * construction (every forget is an anti-join), so a re-delivered or
    * replayed takedown batch changes nothing — spec-pinned, including a
    * fresh-checkpoint full replay. A store that does not exist yet (the
    * takedown feed can outrun the first content build) is skipped this
    * batch; the ids retract from it on a later feed — a takedown
    * pipeline should therefore re-assert ids periodically or gate
    * builds on the accumulated takedown list (compose
    * [[graft.operators.Decontam]]-style: filter the build's input
    * against the retraction table — retraction-at-ingest beats
    * retraction-after-index when the list is known up front).
    */
  def retractionIngest(stream: DataFrame, targets: RetractionTargets,
                       checkpointDir: String,
                       idCol: String = "doc_id"): StreamingQuery = {
    require(targets.auditTable.isEmpty || targets.warehouse.nonEmpty,
      "retractionIngest: auditTable requires a warehouse to write it to")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val sp = batch0.sparkSession
        // takedown feeds are request-sized; pin once, reuse per store.
        // Ids stay UNTYPED here — the old hard cast("long") silently
        // nulled every id of a string-keyed table, so each anti-join
        // matched nothing and the retraction no-oped with removed=0
        // (r10 advice); each target below casts to ITS OWN key type
        val ids = batch0.select(col(idCol)).distinct().localCheckpoint(true)
        if (!ids.isEmpty) {
          val nIds = ids.count() // bounded: takedown-request-sized
          val conf = sp.sparkContext.hadoopConfiguration
          def exists(p: String): Boolean = {
            val path = new org.apache.hadoop.fs.Path(p)
            path.getFileSystem(conf).exists(path)
          }
          def emptyOrAbsent(p: String): Boolean = {
            val path = new org.apache.hadoop.fs.Path(p)
            val fs = path.getFileSystem(conf)
            !fs.exists(path) || fs.listStatus(path).isEmpty
          }
          // long-keyed stores by contract: media fids/doc ids, ANN vec
          // ids, chunk-packed retrieve doc ids
          def longIds(c: String) = ids.select(col(idCol).cast("long").as(c))
          // audit trail (K5 applied to the compliance lane): one row per
          // (run, batch, store) with the forget's actual return value.
          // The RUN component is the stream's checkpoint location: batch
          // ids restart at 0 per checkpoint, so without it two streams
          // (or a rotated checkpoint) sharing one audit table would
          // collide on (batch_id, store) and silently drop real rows.
          // QUALIFIED, not the raw string: the same checkpoint spelled
          // relative vs absolute (or with a trailing slash) must not
          // mint a second run and re-append rows the idempotent key
          // already deduped (r11 advice)
          val runKey = auditRunKey(sp, checkpointDir)
          val audit = Seq.newBuilder[(String, Long, String, Long, Long)]
          def record(store: String, removed: Long): Unit =
            audit += ((runKey, batchId, store, nIds, removed))
          // single-writer ENFORCED per mutated store (the growth lanes
          // hold the same leases): a takedown draining concurrently
          // with a content ingest on one store fails fast here instead
          // of interleaving directory swaps
          def leased[T](d: String)(f: => T): T =
            graft.operators.Lease.withLease(sp, d, s"retraction:$runKey")(f)
          targets.fuzzyStateDir.foreach { d =>
            record(s"fuzzy:$d", leased(d) { forgetFuzzyState(sp, d, ids, idCol) }) }
          targets.mediaStoreDir.foreach { d =>
            record(s"media:$d", leased(d) {
              graft.operators.MediaHashStore.forget(sp, d, longIds(idCol), idCol) }) }
          // the existence guards must ALSO see a store parked at __old
          // by a forget crashed mid-swap (r10 code-review catch): the
          // plain guard would skip the replayed batch, the next READER
          // would heal the PRE-forget contents back, and the retraction
          // would be lost forever — the forgets heal first themselves
          targets.annIndexes.foreach { case (d, c) =>
            if (exists(s"$d/corpus") || exists(s"$d/corpus__old"))
              record(s"ann:$d", leased(d) {
                graft.operators.AnnIndex.forgetIvf(sp, d, longIds(c), c) })
          }
          targets.bm25Indexes.foreach { d =>
            // BOTH persisted layouts, detected from the on-disk markers
            // (an incremental index configured here used to be silently
            // skipped every batch — the exact failure class this lane
            // exists to eliminate). Flat detection includes the marker-
            // less table residue of a whole-corpus un-commit crash,
            // which forgetBm25's entry sweep finishes. An incremental
            // index whose FIRST ingest crashed before its meta write
            // shows the flat residue face (tables, no meta or markers)
            // but its tables hold ingest= children — classify it
            // incremental (forgetBm25Incremental no-ops on zero
            // commits; the content replay overwrites the orphan in
            // place) instead of routing it to the flat sweep, which
            // would delete the whole directory (r11 advice).
            def ingestChildren(p: String): Boolean = {
              val path = new org.apache.hadoop.fs.Path(p)
              val fs = path.getFileSystem(conf)
              fs.exists(path) && fs.listStatus(path).exists(s =>
                s.isDirectory && s.getPath.getName.startsWith("ingest="))
            }
            val dPath = new org.apache.hadoop.fs.Path(d)
            val incr = exists(s"$d/meta") ||
              graft.operators.StoreProtocol.hasCommitDir(
                dPath.getFileSystem(conf), dPath) ||
              exists(s"${d}__old/meta") || ingestChildren(s"$d/postings") ||
              ingestChildren(s"$d/doc_len")
            val flat = !incr && (exists(s"$d/stats") || exists(s"${d}__old/stats") ||
              exists(s"$d/postings") || exists(s"$d/doc_len") ||
              exists(s"$d/doc_freq"))
            if (incr)
              record(s"bm25:$d", leased(d) {
                graft.operators.Retrieval.forgetBm25Incremental(sp, d, ids) })
            else if (flat)
              record(s"bm25:$d", leased(d) {
                graft.operators.Retrieval.forgetBm25(sp, d, ids) })
            else require(emptyOrAbsent(d) && emptyOrAbsent(d + "__old"),
              s"retractionIngest: $d matches neither BM25 layout (no " +
                "stats, no meta or commit markers) — a misconfigured takedown " +
                "feed must fail, not silently skip the store")
            // absent/empty: not built yet (or un-committed whole-corpus
            // retraction) — skipped this batch, retracts on a later feed
          }
          targets.retrieveDirs.foreach { d =>
            if (exists(s"$d/meta"))
              record(s"retrieve:$d", leased(d) {
                graft.pipeline.RetrievePipeline.forget(sp, d, longIds("doc_id")) })
          }
          targets.warehouse.foreach { wh =>
            targets.warehouseTables.foreach { case (table, key, pc) =>
              // cast to the TABLE's own key type (string keys included);
              // an absent table is a no-op forget either way
              val keyed = wh.readIfExists(table) match {
                case Some(df) =>
                  ids.select(col(idCol).cast(df.schema(key).dataType).as(key))
                case None => ids.select(col(idCol).as(key))
              }
              record(s"warehouse:$table", wh.forget(table, keyed, key, pc))
            }
          }
          targets.auditTable.foreach { at =>
            import sp.implicits._
            val rows = audit.result()
            // idempotentAppend on (run, batch_id, store): a re-delivered
            // or same-checkpoint-replayed batch re-offers the same keys
            // and appends nothing new (spec-pinned), while a DIFFERENT
            // stream or a rotated checkpoint gets its own run rows.
            // Honesty contract: each row records what THIS batch
            // execution observed — a crash between the forgets and this
            // write degrades the replay's row to removed=0 (the removal
            // happened, its count was lost with the crash); the audit
            // and the forgets share no transaction, and first-writer-
            // wins keeps the earliest surviving observation. Rows are
            // proof of processing, exact counts under crash-free
            // operation.
            // partitioned by run: the audit table grows one row per
            // (batch, store) forever, and the un-partitioned path's
            // anti-join read back the WHOLE table per batch — partition
            // pruning scopes it to this run's rows (r11 verdict #6;
            // PlanSpec asserts the prune)
            if (rows.nonEmpty)
              targets.warehouse.foreach(_.idempotentAppend(at,
                rows.toDF("run", "batch_id", "store", "ids_count",
                  "removed_count"),
                Seq("run", "batch_id", "store"), partitionCol = Some("run")))
            ()
          }
        }
        ()
      }
      .start()
  }

  /** Streaming SERVING-STACK ingestion — the hybrid retrieval stack's
    * growth lane as a stream, completing the serving lifecycle's
    * symmetry (build once at corpus scale; this feed grows it in
    * O(batch) forever; [[retractionIngest]]'s `retrieveDirs` lane
    * shrinks it): every micro-batch of documents flows through
    * [[graft.pipeline.RetrievePipeline.append]] — K2 doc gate against
    * the chunk store, BM25 ingest partition, frozen-centroid ANN
    * append, chunks committed LAST by one staged rename — and every
    * `compactEvery` batches [[graft.pipeline.RetrievePipeline.compact]]
    * folds the per-batch files back into the build's range layout
    * inside the foreachBatch single-writer window.
    *
    * Idempotency is append's own: a re-delivered or fresh-checkpoint-
    * replayed batch reads as already-present at the doc gate (or
    * converges through the per-artifact anti-joins after a crash) —
    * spec-pinned with the split-drain ≡ one-shot serve invariance at
    * `nprobe = nlist`. The stack must already exist ([[graft.pipeline
    * .RetrievePipeline.build]]); a takedown feed and this feed must not
    * drain concurrently (both mutate the same stores — the standing
    * single-writer contract, ENFORCED per batch by the stack lease:
    * each drain acquires `<stackDir>__lease` for the duration of its
    * foreachBatch window and a conflicting holder fails fast instead of
    * corrupting stores — [[graft.operators.Lease]]).
    *
    * `idGuard` selects [[graft.pipeline.RetrievePipeline.append]]'s
    * committed-id guard ("exact" | "bloom" — see its scaladoc for the
    * trade). With `warehouse`+`auditTable` set, every non-empty batch
    * writes one audit row per append stage — (run, batch_id, store,
    * offered_count, admitted_count), run = the qualified checkpoint
    * location — under the same idempotent key and honesty contract as
    * the retraction audit (the reference's K5 per-run discipline,
    * `/root/reference/scr/etl_batch.py:156-163`, applied to the growth
    * lane): a replayed batch re-offers the same keys and appends
    * nothing; a crash between the append and the audit write degrades
    * the replay's row to admitted=0 (the append happened, its counts
    * were lost with the crash — rows are proof of processing, exact
    * counts under crash-free operation).
    */
  def servingIngest(stream: DataFrame, stackDir: String,
                    checkpointDir: String, textCol: String = "text",
                    idCol: String = "doc_id",
                    compactEvery: Int = 0,
                    idGuard: String = "exact",
                    warehouse: Option[Warehouse] = None,
                    auditTable: Option[String] = None): StreamingQuery = {
    require(auditTable.isEmpty || warehouse.nonEmpty,
      "servingIngest: auditTable requires a warehouse to write it to")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val runKey = auditRunKey(sp, checkpointDir)
        graft.operators.Lease.withLease(sp, stackDir, s"serving:$runKey") {
          if (!batch.isEmpty) {
            val offered = batch.count() // micro-batch-sized
            // gate trade AT DRAIN TIME, before the append adds a part:
            // in bloom mode a false positive silently drops a new doc,
            // and gate_parts × gate_fpp is the realized-exposure bound
            // an operator reads back from the audit (r12 verdict #3);
            // exact mode records fpp 0.0 and skips the meta read
            val (gateParts, gateFpp) = graft.pipeline.RetrievePipeline
              .gateInfo(sp, stackDir, readFpp = idGuard == "bloom")
            val stages = graft.pipeline.RetrievePipeline.append(
              batch.select(col(idCol), col(textCol)), textCol, idCol,
              stackDir, idGuard)
            auditTable.foreach { at =>
              import sp.implicits._
              // auto-migrate a pre-gate-columns audit table (r13 advice:
              // the lanes gained gate_mode/parts/fpp in r13, and the
              // column-set guard in idempotentAppend would otherwise
              // fail every drain on an upgraded deployment until a
              // manual migration) — defaults record the historical
              // behavior: exact gate, nothing probed, zero fpp
              warehouse.foreach(_.migrateIfNeeded(at, Map(
                "gate_mode" -> lit("exact"),
                "gate_parts" -> lit(0),
                "gate_fpp" -> lit(0.0)), partitionCol = Some("run")))
              warehouse.foreach(_.idempotentAppend(at,
                stages.map(st =>
                    (runKey, batchId, s"retrieve:$stackDir:${st.stage}",
                      offered, st.rows, idGuard, gateParts, gateFpp))
                  .toDF("run", "batch_id", "store", "offered_count",
                    "admitted_count", "gate_mode", "gate_parts",
                    "gate_fpp"),
                Seq("run", "batch_id", "store"), partitionCol = Some("run")))
            }
          }
          if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
            graft.pipeline.RetrievePipeline.compact(sp, stackDir)
        }
        ()
      }
      .start()
  }

  /** Streaming LEXICAL-INDEX ingestion — the incremental BM25 index
    * ([[graft.operators.Retrieval.appendBm25Incremental]]) wired into
    * the lifecycle it was built for, next to [[fuzzyDedupIngest]] and
    * [[profileSketchIngest]]: every micro-batch of documents commits as
    * one marked ingest partition set (O(batch) work — per-ingest
    * doc_freq/stats partials, nothing index-sized rewrites), and every
    * `compactEvery` batches the per-append partitions fold to one
    * ([[graft.operators.Retrieval.compactBm25Incremental]]) INSIDE
    * foreachBatch — the single-writer window the consolidation swap
    * requires (batches commit serially).
    *
    * Idempotency needs no extra markers: the append's own K2 anti-join
    * drops docs whose ids are already committed, so a re-delivered batch
    * overwrites its own orphan (same deterministic key) and a
    * fresh-checkpoint full replay admits nothing (spec-pinned, with the
    * split-ingest ≡ one-shot serve invariance). Queries serve from the
    * index at any point via `bm25TopKFromIncremental`; retraction runs
    * through [[retractionIngest]]'s bm25 lane (layout auto-detected).
    *
    * Single-writer is ENFORCED per batch (`<indexDir>__lease`,
    * [[graft.operators.Lease]]), and `warehouse`+`auditTable` buy the
    * same per-batch growth audit as [[servingIngest]] — one
    * (run, batch_id, store, offered_count, admitted_count) row per
    * non-empty batch, idempotent on (run, batch_id, store).
    */
  def bm25Ingest(stream: DataFrame, indexDir: String, checkpointDir: String,
                 textCol: String = "text", idCol: String = "doc_id",
                 compactEvery: Int = 0,
                 idGuard: String = "exact",
                 warehouse: Option[Warehouse] = None,
                 auditTable: Option[String] = None): StreamingQuery = {
    require(auditTable.isEmpty || warehouse.nonEmpty,
      "bm25Ingest: auditTable requires a warehouse to write it to")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val runKey = auditRunKey(sp, checkpointDir)
        graft.operators.Lease.withLease(sp, indexDir, s"bm25:$runKey") {
          if (!batch.isEmpty) {
            val offered = batch.count() // micro-batch-sized
            // gate trade at drain time (see servingIngest): the bloom
            // guard's realized drop exposure is gate_parts × gate_fpp
            val (gateParts, gateFpp) = graft.operators.Retrieval
              .bm25GateInfo(sp, indexDir, readFpp = idGuard == "bloom")
            val admitted = graft.operators.Retrieval.appendBm25Incremental(
              sp, indexDir, batch, textCol, idCol, idGuard)
            auditTable.foreach { at =>
              import sp.implicits._
              // auto-migrate a pre-gate-columns audit table (r13 advice:
              // the lanes gained gate_mode/parts/fpp in r13, and the
              // column-set guard in idempotentAppend would otherwise
              // fail every drain on an upgraded deployment until a
              // manual migration) — defaults record the historical
              // behavior: exact gate, nothing probed, zero fpp
              warehouse.foreach(_.migrateIfNeeded(at, Map(
                "gate_mode" -> lit("exact"),
                "gate_parts" -> lit(0),
                "gate_fpp" -> lit(0.0)), partitionCol = Some("run")))
              warehouse.foreach(_.idempotentAppend(at,
                Seq((runKey, batchId, s"bm25:$indexDir", offered, admitted,
                    idGuard, gateParts, gateFpp))
                  .toDF("run", "batch_id", "store", "offered_count",
                    "admitted_count", "gate_mode", "gate_parts",
                    "gate_fpp"),
                Seq("run", "batch_id", "store"), partitionCol = Some("run")))
            }
          }
          if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
            graft.operators.Retrieval.compactBm25Incremental(sp, indexDir)
        }
        ()
      }
      .start()
  }

  /** Streaming SPAN-DUPLICATION ingestion — the persisted span store
    * ([[graft.operators.SpanStore]]) wired into the lifecycle, next to
    * [[bm25Ingest]]: every micro-batch is first PROBED against
    * committed ∪ batch (per-doc dup_spans/dup_tokens/dup_fraction — the
    * span-grain quality signal, written effectively-once under
    * `statsDir/batch=<id>` so a downstream gate can route on it), then
    * ingested as one marked O(batch) partial; every `compactEvery`
    * batches the partials fold to one inside the foreachBatch
    * single-writer window. Probe-before-append is what makes the stats
    * incremental-exact: the batch's own docs count toward duplication
    * exactly once (SpanStore.probe's committed ∪ batch contract).
    * Compaction fires on EITHER trigger: the `compactEvery` batch
    * schedule, or — by default — whenever the committed flat tail
    * exceeds `compactWhenUncompactedExceeds` ingests (64), so a lane
    * left running bounds its own read cost instead of depending on
    * operator discipline (r13 verdict #3); 0 disables either trigger.
    *
    * Idempotency: the store's K2 gate drops committed ids, so a
    * re-delivered batch admits nothing — but its PROBE now counts those
    * docs on the committed side instead of the batch side, the same
    * total, so the overwrite-by-batchId stats rewrite is value-identical
    * (spec-pinned). Single-writer enforced per batch
    * (`<storeDir>__lease`); `warehouse`+`auditTable` buy the
    * (run, batch_id, store, offered, admitted) growth audit. Retraction:
    * [[graft.operators.SpanStore.forget]] needs the retracted docs'
    * TEXT (the store is an aggregate — see its scaladoc), so span-store
    * takedowns run off the text-bearing doc feed directly rather than
    * the id-only [[retractionIngest]] lane.
    */
  def spanIngest(stream: DataFrame, storeDir: String, checkpointDir: String,
                 textCol: String = "text", idCol: String = "doc_id",
                 k: Int = 8, minDocs: Int = 2,
                 statsDir: Option[String] = None,
                 compactEvery: Int = 0,
                 compactWhenUncompactedExceeds: Int = 64,
                 warehouse: Option[Warehouse] = None,
                 auditTable: Option[String] = None): StreamingQuery = {
    require(auditTable.isEmpty || warehouse.nonEmpty,
      "spanIngest: auditTable requires a warehouse to write it to")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val sp = batch0.sparkSession
        val runKey = auditRunKey(sp, checkpointDir)
        graft.operators.Lease.withLease(sp, storeDir, s"span:$runKey") {
          if (!batch0.isEmpty) {
            // pin the micro-batch AND its shingle stream once: the
            // shingle explode is the dominant per-batch cost and feeds
            // both the probe and the append (SpanStore's `spans` reuse
            // contract); the count rides the pinned frame
            val batch = batch0.localCheckpoint(true)
            val offered = batch.count()
            val spans = graft.operators.Dedup.spanShingles(batch,
              textCol, idCol, k).localCheckpoint(true)
            statsDir.foreach { sd =>
              graft.operators.SpanStore.probe(sp, storeDir, batch,
                  textCol, idCol, k, minDocs, spans = Some(spans))
                .write.mode("overwrite")
                .parquet(s"${spanStatsRunDir(sp, sd, checkpointDir)}/batch=$batchId")
            }
            val admitted = graft.operators.SpanStore.append(sp, storeDir,
              batch, textCol, idCol, k, spans = Some(spans))
            auditTable.foreach { at =>
              import sp.implicits._
              warehouse.foreach(_.idempotentAppend(at,
                Seq((runKey, batchId, s"span:$storeDir", offered, admitted))
                  .toDF("run", "batch_id", "store", "offered_count",
                    "admitted_count"),
                Seq("run", "batch_id", "store"), partitionCol = Some("run")))
            }
          }
          // two compaction triggers, either sufficient (r13 verdict #3:
          // the defaults used to be "never", leaving the flat LSM tail —
          // and the graph lane's remap chain — unbounded unless the
          // operator remembered to fold): the batch-count schedule
          // (`compactEvery`) plus a DEPTH trigger that fires whenever
          // the committed flat tail outgrows the policy bound, so a
          // lane left running folds its own store by construction
          if ((compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
              || (compactWhenUncompactedExceeds > 0 &&
                uncompactedIngests(sp, storeDir, "span_docs")
                  > compactWhenUncompactedExceeds))
            graft.operators.SpanStore.compact(sp, storeDir)
        }
        ()
      }
      .start()
  }

  /** Streaming GRAPH ingestion — the persisted connected-components
    * store ([[graft.operators.GraphStore]]) wired into the lifecycle,
    * next to [[spanIngest]]: every micro-batch of EDGES (two node
    * columns) contracts against the committed labeling and commits its
    * batch-sized label/remap/edge partials as one marked ingest —
    * O(batch) work, no label row ever rewrites; every `compactEvery`
    * batches the remap chain folds to zero inside the foreachBatch
    * single-writer window. Replay idempotency is value-level by
    * monotonicity: a re-delivered batch's endpoints are already labeled
    * and its merges already applied, so labels and query answers are
    * untouched (the batch's edges re-enter the log as a duplicate
    * edges-only ingest — see GraphStore.append on why the log must stay
    * complete — and compact folds them).
    *
    * Same lease + audit discipline as the other growth lanes: one
    * (run, batch_id, store, offered_count, admitted_count, merged_count)
    * row per non-empty batch — offered = edges, admitted = nodes first
    * labeled, merged = committed components fused (the growth signal an
    * entity-resolution operator actually watches). Compaction fires on
    * the `compactEvery` schedule OR the `compactWhenUncompactedExceeds`
    * depth trigger (default 64) — the latter also caps the remap-chain
    * depth, i.e. the per-read broadcast-join count (r13 verdict #3).
    */
  def graphIngest(stream: DataFrame, storeDir: String, checkpointDir: String,
                  nodeCol: String = "node",
                  compactEvery: Int = 0,
                  compactWhenUncompactedExceeds: Int = 64,
                  warehouse: Option[Warehouse] = None,
                  auditTable: Option[String] = None): StreamingQuery = {
    require(auditTable.isEmpty || warehouse.nonEmpty,
      "graphIngest: auditTable requires a warehouse to write it to")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val sp = batch0.sparkSession
        val runKey = auditRunKey(sp, checkpointDir)
        graft.operators.Lease.withLease(sp, storeDir, s"graph:$runKey") {
          if (!batch0.isEmpty) {
            val batch = batch0.localCheckpoint(true)
            val offered = batch.count()
            val (admitted, merged) = graft.operators.GraphStore.append(
              sp, storeDir, batch, nodeCol)
            auditTable.foreach { at =>
              import sp.implicits._
              warehouse.foreach(_.idempotentAppend(at,
                Seq((runKey, batchId, s"graph:$storeDir", offered,
                    admitted, merged))
                  .toDF("run", "batch_id", "store", "offered_count",
                    "admitted_count", "merged_count"),
                Seq("run", "batch_id", "store"), partitionCol = Some("run")))
            }
          }
          // schedule OR depth trigger (see spanIngest): for this store
          // the depth bound is ALSO the remap-chain bound — resolution
          // applies one broadcast join per uncompacted ingest, so the
          // policy caps read cost, not just file counts
          if ((compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
              || (compactWhenUncompactedExceeds > 0 &&
                uncompactedIngests(sp, storeDir, "labels")
                  > compactWhenUncompactedExceeds))
            graft.operators.GraphStore.compact(sp, storeDir)
        }
        ()
      }
      .start()
  }

  /** Run-scoped root for [[spanIngest]]'s per-batch stats: batch ids
    * restart at 0 per checkpoint, so stats keyed by batchId alone would
    * let a rotated checkpoint's batch 0 silently OVERWRITE the prior
    * run's batch-0 stats for entirely different documents — the audit
    * runKey lesson applied to the stats trail. The qualified checkpoint
    * key is hashed because it is a URI, not a safe partition-directory
    * value. Readers list runs under `statsDir` or resolve one with this
    * same function.
    */
  def spanStatsRunDir(spark: SparkSession, statsDir: String,
                      checkpointDir: String): String = {
    val key = auditRunKey(spark, checkpointDir)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"$statsDir/run=$h"
  }

  /** The span store's TAKEDOWN lane — the retraction twin of
    * [[spanIngest]], separate from [[retractionIngest]] because the
    * span store is an aggregate: its forget needs the retracted docs'
    * TEXT to decrement counts exactly (see
    * [[graft.operators.SpanStore.forget]] — bare ids cannot be
    * inverted), so the feed here carries (idCol, textCol) rows where
    * the retraction lane carries ids. Same discipline otherwise:
    * single-writer lease per batch, one idempotent
    * (run, batch_id, store, ids_count, removed_count) audit row per
    * non-empty batch under the retraction audit's exact column names
    * (the two lanes can share one table), honesty contract included —
    * a replayed takedown removes 0 (the gate semi-join finds nothing
    * committed) and records that 0.
    */
  def spanRetractionIngest(stream: DataFrame, storeDir: String,
                           checkpointDir: String, textCol: String = "text",
                           idCol: String = "doc_id",
                           warehouse: Option[Warehouse] = None,
                           auditTable: Option[String] = None): StreamingQuery = {
    require(auditTable.isEmpty || warehouse.nonEmpty,
      "spanRetractionIngest: auditTable requires a warehouse to write it to")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val runKey = auditRunKey(sp, checkpointDir)
        graft.operators.Lease.withLease(sp, storeDir, s"retraction:$runKey") {
          if (!batch.isEmpty) {
            val docs = batch.select(col(idCol), col(textCol)).distinct()
              .localCheckpoint(true) // takedown-request-sized
            val nIds = docs.count()
            val removed = graft.operators.SpanStore.forget(sp, storeDir,
              docs, textCol, idCol)
            auditTable.foreach { at =>
              import sp.implicits._
              warehouse.foreach(_.idempotentAppend(at,
                Seq((runKey, batchId, s"span:$storeDir", nIds, removed))
                  .toDF("run", "batch_id", "store", "ids_count",
                    "removed_count"),
                Seq("run", "batch_id", "store"), partitionCol = Some("run")))
            }
          }
        }
        ()
      }
      .start()
  }

  /** Streaming MEDIA screening ingestion — the valid/reject routing
    * (P8) applied to the multimodal family: every micro-batch of media
    * rows (doc_id, payload, media_type, byte_len) decodes partition-
    * parallel, and each row routes on the screening verdicts —
    * undecodable payloads (anything [[graft.operators.Multimodal.Codec
    * .decode]] rejects: corrupt bytes, and media types outside the
    * decodable families bmp/png/jpeg/wav/y4m — route text through the
    * text pipeline, not this gate), silent or clipped audio
    * ([[graft.operators.Multimodal.audioFeatures]]' gates) land under
    * `rejectDir` with a reason column; everything else — valid images
    * and video included — appends under `acceptDir`. Both sides write partitioned by batch id
    * (overwrite-by-batchId = the sketch-ingest effectively-once
    * contract: a re-delivered batch overwrites its own partitions in
    * place). Audio rows decode twice (metadata + features) — micro-
    * batch-sized work, and the two passes keep the operators reusable
    * instead of fused.
    */
  def mediaScreenIngest(stream: DataFrame, acceptDir: String,
                        rejectDir: String, checkpointDir: String,
                        silenceRms: Double = 0.001,
                        clipFrac: Double = 0.01): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        if (!batch0.isEmpty) {
          val batch = batch0.localCheckpoint(true) // micro-batch-sized
          val dec = graft.operators.Multimodal.decodeFeatures(batch)
            .select(col("doc_id"), col("f0"))
          val af = graft.operators.Multimodal
            .audioFeatures(batch, silenceRms, clipFrac)
            .select(col("doc_id"), col("is_silence"), col("is_clipped"))
          val verdict = dec.join(af, Seq("doc_id"))
            .select(col("doc_id"),
              when(col("f0").isNull, "undecodable")
                .when(col("is_silence"), "silence")
                .when(col("is_clipped"), "clipped")
                .as("reason"))
          val routed = batch.join(verdict, Seq("doc_id"))
            .localCheckpoint(true) // feeds both sinks once
          routed.filter(col("reason").isNull).drop("reason")
            .write.mode("overwrite").parquet(s"$acceptDir/batch=$batchId")
          routed.filter(col("reason").isNotNull)
            .write.mode("overwrite").parquet(s"$rejectDir/batch=$batchId")
          batch.unpersist()
          routed.unpersist()
        }
        ()
      }
      .start()

  /** Streaming PERCEPTUAL MEDIA dedup ingestion — the media member of
    * the ingest family next to [[fuzzyDedupIngest]] (minhash text),
    * [[embeddingDedupIngest]] (vectors) and [[textDedupIngest]]
    * (hashEmbed): every micro-batch of media payloads is fingerprinted
    * ([[graft.operators.Multimodal.visualHashes]] — luma-grid dHash per
    * image and sampled video frame, envelope dHash per audio clip),
    * screened against the COMMITTED hash store
    * ([[graft.operators.MediaHashStore.screenUnits]] — one store scan
    * against the BROADCAST batch: per-unit cost is store/|batch|, no
    * store shuffle, no reducer funnel; see the store's scaladoc for the
    * measured rejection of the banded-on-disk alternative), deduped
    * within the batch at DOCUMENT level (a doc is a duplicate when ANY
    * of its frames matches — the keyframe-signature rule; min-id reps
    * via `clusterReps`), and the survivors' frame hashes append to the
    * store. The store holds model-thin rows (ids, 72 ints, 1 long —
    * never payloads); `compactEvery` folds its per-batch small files
    * under the same in-foreachBatch single-writer window the sketch
    * ingests use.
    *
    * Marker-free idempotency, same argument as the embedding path but
    * STRONGER: pigeonhole banding has FULL recall at the Hamming bound
    * (no nprobe miss), so a re-delivered doc's frames always rematch
    * their committed copies at distance 0 and the doc drops on every
    * replay. The soft spot is identical too: a row first dropped as an
    * in-batch cluster member can sit more than `maxHamming` from its
    * admitted representative (components are transitive) and re-admit
    * once on replay — bounded, then its own copy guards forever.
    *
    * Docs with NO hashable content (undecodable payloads, unsupported
    * media types) have no signature to dedup on and are DROPPED at this
    * gate — the [[textDedupIngest]] token-less-doc convention; route
    * them through [[mediaScreenIngest]]'s reject channel upstream if
    * they must be kept.
    */
  def mediaDedupIngest(stream: DataFrame, storeDir: String,
                       checkpointDir: String, maxHamming: Int = 3,
                       maxL1: Double = 12750.0, maxBucket: Int = 1000,
                       frameStride: Int = 1,
                       compactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val sp = batch0.sparkSession
        // per-batch store lease (r13 advice): the direct
        // MediaHashStore.compact/forget guards only bite when the drain
        // itself HOLDS the lease — without this window a maintenance
        // call could acquire the free lease mid-batch and race the
        // append's swap; the compactEvery hook below passes through
        // re-entrantly
        graft.operators.Lease.withLease(sp, storeDir,
            s"media:${auditRunKey(sp, checkpointDir)}") {
          var pinned = List.empty[DataFrame]
          def pin(df: DataFrame): DataFrame = { pinned ::= df.cache(); df }
          try {
            if (!batch0.isEmpty) {
              // fid packs (doc, frame) — frame counts are codec-bounded
              // (images/audio 1, video ≤ stride-sampled frames); 20 bits
              // matches the chunk-id convention
              val hashes = pin(graft.operators.Multimodal
                .visualHashes(batch0, frameStride = frameStride)
                .filter(col("dhash").isNotNull)
                .select(col("doc_id"), col("frame_idx"), col("grid"), col("dhash"),
                  (col("doc_id") * (1L << 20) + col("frame_idx")).as("fid")))
              if (!hashes.isEmpty) {
                // id-space guards (the RetrievePipeline.build discipline):
                // the (doc, frame) pack needs non-negative bounded doc ids
                // and < 2^20 frames per clip — one small agg on the cached
                // batch, failing fast before anything commits
                val b = hashes.agg(min(col("doc_id")), max(col("doc_id")),
                  max(col("frame_idx"))).head()
                require(b.getLong(0) >= 0 && b.getLong(1) < (1L << 43),
                  s"mediaDedupIngest: doc ids [${b.getLong(0)}, ${b.getLong(1)}] " +
                    "outside [0, 2^43) — the (doc, frame) packing would overflow")
                require(b.getLong(2) < (1L << 20),
                  s"mediaDedupIngest: frame_idx ${b.getLong(2)} overflows the " +
                    "20-bit frame space — raise frameStride")
                val corpusDupDocs =
                  if (!graft.operators.MediaHashStore.exists(sp, storeDir))
                    hashes.select("doc_id").limit(0)
                  else graft.operators.MediaHashStore.screenUnits(
                      sp, storeDir,
                      hashes.select(col("fid"), col("grid"), col("dhash")),
                      "fid", maxHamming, maxL1)
                    // exact unpack: ids are non-negative (guarded above),
                    // so the shift is the packing's inverse — a long/long
                    // `/` would detour through double and lose exactness
                    // above 2^53
                    .select(shiftright(col("id_a"), 20).as("doc_id"))
                    .distinct()
                val survivors = pin(
                  hashes.join(corpusDupDocs, Seq("doc_id"), "left_anti"))
                if (!survivors.isEmpty) {
                  // in-batch: doc-level pairs from any frame-level match
                  val framePairs = graft.operators.Dedup.dhashPairs(
                    survivors.select(col("fid"), col("grid"), col("dhash")),
                    "fid", maxHamming, maxL1, maxBucket)
                  val docPairs = framePairs
                    .select(shiftright(col("id_a"), 20).as("id_a"),
                      shiftright(col("id_b"), 20).as("id_b"))
                    .filter(col("id_a") =!= col("id_b")) // intra-doc frame dups are fine
                    .distinct()
                  val docs = survivors.select(col("doc_id")).distinct()
                  val reps = graft.operators.Dedup.clusterReps(
                    docs, docPairs, "doc_id")
                  graft.operators.MediaHashStore.append(sp, storeDir,
                    survivors
                      .join(reps.filter(col("rep_id") === col("doc_id"))
                        .select(col("doc_id")), Seq("doc_id"))
                      .select("fid", "doc_id", "frame_idx", "grid", "dhash"))
                }
              }
            }
            // same in-foreachBatch single-writer window as the sketch
            // compaction hooks: fold per-batch bucket files periodically
            if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0 &&
                graft.operators.MediaHashStore.exists(sp, storeDir))
              graft.operators.MediaHashStore.compact(sp, storeDir)
          } finally pinned.foreach(_.unpersist())
        }
        ()
      }
      .start()

  /** Streaming PROFILE sketches: every micro-batch writes its own
    * MERGEABLE sketch partition ([[graft.operators.Profile.sketch]] —
    * counts, min/max, HLL registers) under `sketchDir/batch=<id>`;
    * "profile everything ingested so far" is then
    * `Profile.mergeSketches(spark.read.parquet(sketchDir))` — a
    * model-sized merge at any point in the stream's life, never a
    * re-scan of ingested data.
    *
    * Effectively-once: the write is OVERWRITE-BY-BATCHID, and Structured
    * Streaming re-delivers a failed batch under the SAME id from the
    * checkpoint, so recovery overwrites the partial partition in place.
    * The checkpoint is the source of truth — discarding it (which
    * renumbers batches over the same files) requires discarding
    * `sketchDir` with it, the standard foreachBatch idempotency
    * contract.
    */
  def profileSketchIngest(stream: DataFrame, cols: Seq[String],
                          sketchDir: String,
                          checkpointDir: String,
                          compactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // SketchStore.append heals a compaction crashed mid-swap BEFORE
        // writing: a replayed batch writing into a missing sketchDir would
        // otherwise recreate it with only its own partition and orphan the
        // entire pre-crash history in sketchDir__old (r9 advice)
        if (!batch.isEmpty)
          graft.operators.SketchStore.append(batch.sparkSession, sketchDir,
            graft.operators.Profile.sketch(batch, cols), batchId)
        // maintenance wired into the lifecycle (not left to an operator
        // nobody calls): every `compactEvery` batches the sketch store
        // folds to ≤ 2 partitions — INSIDE foreachBatch the stream is
        // the single writer SketchStore.compact's contract requires
        // (batches commit serially), and the newest partition is carried
        // as-is so this batch's own replay still overwrites in place.
        // Partition count therefore stays ≤ compactEvery + 1 at any
        // stream age.
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          graft.operators.SketchStore.compact(batch.sparkSession, sketchDir,
            graft.operators.Profile.mergeSketchPartials)
        ()
      }
      .start()

  /** Streaming DATASHEET partials — the corpus-release-review twin of
    * [[profileSketchIngest]]: one
    * [[graft.operators.CorpusReport.datasheetSketch]] row per
    * micro-batch under `sketchDir/batch=<id>`, merged at read with
    * `CorpusReport.datasheetFromSketches`. Same overwrite-by-batchId
    * effectively-once contract.
    */
  def datasheetSketchIngest(stream: DataFrame, textCol: String, idCol: String,
                            langCol: String, sourceCol: String,
                            sketchDir: String,
                            checkpointDir: String,
                            compactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // heal-before-write via SketchStore.append (see profileSketchIngest)
        if (!batch.isEmpty)
          graft.operators.SketchStore.append(batch.sparkSession, sketchDir,
            graft.operators.CorpusReport.datasheetSketch(
              batch, textCol, idCol, langCol, sourceCol), batchId)
        // same in-lifecycle compaction as profileSketchIngest (single
        // writer inside foreachBatch; newest partition carried as-is)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          graft.operators.SketchStore.compact(batch.sparkSession, sketchDir,
            graft.operators.CorpusReport.mergeDatasheetPartials)
        ()
      }
      .start()

  /** Streaming EMBEDDING near-dup ingestion: every micro-batch screens
    * against the PERSISTED ANN index ([[graft.operators.AnnIndex
    * .screenIvf]] — frozen-centroid routing, nprobe cells, exact-cosine
    * verify), then the accepted vectors append into the index's own cell
    * partitions ([[graft.operators.AnnIndex.appendIvf]]) — the embedding
    * member of the ingest family next to [[fuzzyDedupIngest]] and
    * [[decontamIngest]]. Per-batch cost tracks the batch (probed cells ×
    * batch), never the corpus history.
    *
    * Policy (fuzzyDedupIngest parity): a batch vector near-dup of a
    * committed one is dropped; within a MICRO-BATCH, each near-dup
    * cluster keeps its min-id representative (SRP-bucketed pairs →
    * `Dedup.clusterReps`). Rep selection is per-micro-batch: when the
    * source splits one logical drop across micro-batches, a cluster
    * split across them admits its first-arriving member (later members
    * screen off against it pairwise), so dedup still holds for
    * direct near-dups but the surviving id may not be the global min,
    * and transitive-only cluster mates in different micro-batches are
    * not linked. Batch one drop per micro-batch when exact batch
    * semantics matter.
    *
    * Idempotency WITHOUT markers: the screen is its own re-delivery
    * guard — a re-delivered vector whose copy is already in the index
    * matches itself at cosine 1 ≥ threshold (its own cell is its first
    * probe by construction) and drops, so ADMITTED rows never
    * duplicate under replay (spec-pinned). The one soft spot is a row
    * the first pass DROPPED as an in-batch cluster member: on replay it
    * has no committed copy to self-match, and whether it screens off
    * against its admitted representative depends on the probe set —
    * with `nprobe < nlist` the rep's cell may not be probed and the
    * row is admitted after all (once; its own copy guards every later
    * replay). That is the same bounded recall miss any nprobe-screened
    * lookup has, not an unbounded duplication: run with
    * `nprobe = nlist` where replay-exactness matters (the screen is
    * then exhaustive within the threshold, spec-pinned for the IVFADC
    * family). Non-transactional parquet appends therefore need no
    * commit-marker machinery in the index layout; requires
    * `threshold < 1`. `adc = true` runs the same policy against an
    * IVFADC index (frozen-pivot screen on the raw vectors riding in
    * the code-carrying partitions, appends re-encoded under the frozen
    * codebooks).
    */
  /** In-lifecycle index maintenance for the ANN ingest family: every
    * `maintainEvery` committed batches, compact the per-cell small files
    * ([[graft.operators.AnnIndex.compactIvf]] — append leaves one file
    * per touched cell per batch) and run the drift-retrain policy
    * ([[graft.operators.AnnIndex.maintainIvf]] / `maintainIvfAdc` —
    * rebuild when routing TVD exceeds `tvdThreshold`). foreachBatch
    * commits serially, so this runs inside exactly the single-writer
    * window the maintenance operators document; a crash mid-swap heals
    * through the `__old` contract on the next read. `retrainNlist` /
    * `retrainM` / `retrainKsub` / `retrainIters` MUST match the build's
    * geometry (they parameterize the rebuild).
    */
  final case class IndexMaintenance(maintainEvery: Int,
                                    tvdThreshold: Double = 0.2,
                                    retrainNlist: Int = 8,
                                    retrainM: Int = 8, retrainKsub: Int = 16,
                                    retrainIters: Int = 3)

  private def maintainIndex(sp: SparkSession, indexDir: String,
                            vecCol: String, idCol: String, adc: Boolean,
                            m: Option[IndexMaintenance], batchId: Long): Unit =
    m.foreach { mm =>
      if (mm.maintainEvery > 0 && batchId > 0 &&
          batchId % mm.maintainEvery == 0) {
        graft.operators.AnnIndex.compactIvf(sp, indexDir)
        if (adc)
          graft.operators.AnnIndex.maintainIvfAdc(sp, indexDir, vecCol, idCol,
            mm.tvdThreshold, mm.retrainNlist, mm.retrainM, mm.retrainKsub,
            mm.retrainIters)
        else
          graft.operators.AnnIndex.maintainIvf(sp, indexDir, vecCol, idCol,
            mm.tvdThreshold, mm.retrainNlist, mm.retrainIters)
        ()
      }
    }

  def embeddingDedupIngest(stream: DataFrame, indexDir: String,
                           checkpointDir: String, vecCol: String = "embedding",
                           idCol: String = "vec_id",
                           threshold: Double = 0.3, nprobe: Int = 2,
                           bits: Int = 4, tables: Int = 12,
                           maxBucket: Int = 200,
                           adc: Boolean = false,
                           maintenance: Option[IndexMaintenance] = None): StreamingQuery = {
    require(threshold < 1.0,
      "embeddingDedupIngest: threshold must be < 1 (cosine-1 self-match is the re-delivery guard)")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // per-batch index lease (r13 advice — see mediaDedupIngest):
        // the guarded AnnIndex.compactIvf/forgetIvf only refuse a
        // concurrent maintenance call when the drain holds the lease;
        // maintainIndex's own hooks pass through re-entrantly
        graft.operators.Lease.withLease(batch0.sparkSession, indexDir,
            s"ann:${auditRunKey(batch0.sparkSession, checkpointDir)}") {
          screenAndAppend(batch0.select(col(idCol), col(vecCol)), indexDir,
            vecCol, idCol, threshold, nprobe, bits, tables, maxBucket, adc)
          maintainIndex(batch0.sparkSession, indexDir, vecCol, idCol, adc,
            maintenance, batchId)
        }
        ()
      }
      .start()
  }

  /** One ingest round of the embedding dedup policy (shared by
    * [[embeddingDedupIngest]] and [[textDedupIngest]]): screen against
    * the persisted index, keep min-id reps within the batch, append the
    * clean remainder under frozen routing.
    */
  private def screenAndAppend(batch0: DataFrame, indexDir: String,
                              vecCol: String, idCol: String,
                              threshold: Double, nprobe: Int, bits: Int,
                              tables: Int, maxBucket: Int,
                              adc: Boolean = false): Unit = {
    val sp = batch0.sparkSession
    var pinned = List.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned ::= df.cache(); df }
    try {
      val batch = pin(batch0)
      if (!batch.isEmpty) {
        val corpusDup = (if (adc)
            graft.operators.AnnIndex.screenIvfAdc(
              sp, indexDir, batch, vecCol, idCol, threshold, nprobe)
          else
            graft.operators.AnnIndex.screenIvf(
              sp, indexDir, batch, vecCol, idCol, threshold, nprobe))
          .select(col("id_a").as(idCol)).distinct()
        val survivors = pin(batch.join(corpusDup, Seq(idCol), "left_anti"))
        if (!survivors.isEmpty) {
          val pairs = graft.operators.Dedup.embeddingNearDup(
            survivors, vecCol, idCol, threshold, bits, tables, maxBucket)
          val reps = graft.operators.Dedup.clusterReps(survivors, pairs, idCol)
          val kept = survivors.join(
            reps.filter(col("rep_id") === col(idCol)).select(col(idCol)),
            Seq(idCol))
          if (adc) graft.operators.AnnIndex.appendIvfAdc(kept, vecCol, idCol, indexDir)
          else graft.operators.AnnIndex.appendIvf(kept, vecCol, idCol, indexDir)
        }
      }
    } finally pinned.foreach(_.unpersist())
  }

  /** Streaming SEMANTIC TEXT dedup ingestion — no model required: each
    * micro-batch of raw documents enters the vector stack through the
    * deterministic hashEmbed bridge
    * ([[graft.operators.Similarity.hashEmbed]] — a doc's vector depends
    * only on its own text, so embeddings are consistent across batches
    * and sessions by construction), then runs the
    * [[embeddingDedupIngest]] policy against a persisted index BUILT ON
    * HASHED EMBEDDINGS of the committed corpus: screen (frozen-centroid
    * probes + exact cosine), in-batch min-id reps, append clean rows
    * into the index's cell partitions. Same marker-free idempotency —
    * a re-delivered doc hashes to the identical vector and self-matches
    * at cosine 1.
    *
    * `dim`/`salt` MUST match the ones the index was built with (the
    * bridge is the routing contract's input); `threshold` is a hashed-
    * cosine threshold — calibrate against exact Jaccard with the
    * `dedup_eval_hashembed` query (0.9 ≈ precision 0.86 / recall 1.0 on
    * the fixture corpus). Token-less documents have no hashed vector
    * (the hashEmbed no-row contract) and are DROPPED at this gate — as
    * are the (vanishingly rare) fully-sign-cancelled docs, whose
    * zero-norm vector hashEmbed also refuses to emit precisely because
    * it could never self-match and would re-admit on every replay;
    * route empties elsewhere upstream if they must be retained.
    */
  def textDedupIngest(stream: DataFrame, indexDir: String,
                      checkpointDir: String, textCol: String = "text",
                      idCol: String = "doc_id", dim: Int = 64,
                      salt: String = "he", threshold: Double = 0.9,
                      nprobe: Int = 2, bits: Int = 4, tables: Int = 12,
                      maxBucket: Int = 200,
                      maintenance: Option[IndexMaintenance] = None): StreamingQuery = {
    require(threshold < 1.0,
      "textDedupIngest: threshold must be < 1 (cosine-1 self-match is the re-delivery guard)")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // per-batch index lease (see embeddingDedupIngest)
        graft.operators.Lease.withLease(batch0.sparkSession, indexDir,
            s"ann:${auditRunKey(batch0.sparkSession, checkpointDir)}") {
          screenAndAppend(
            graft.operators.Similarity.hashEmbed(
              batch0.select(col(idCol), col(textCol)), textCol, idCol, dim, salt),
            indexDir, "embedding", idCol, threshold, nprobe, bits, tables, maxBucket)
          maintainIndex(batch0.sparkSession, indexDir, "embedding", idCol,
            adc = false, maintenance, batchId)
        }
        ()
      }
      .start()
  }
}
