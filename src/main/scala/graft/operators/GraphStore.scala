package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted connected-components store — the INCREMENTAL face of
  * [[Graph.connectedComponents]], for the continuous-ingestion shape
  * where re-running CC over every edge ever seen per batch is a
  * non-starter: an entity-resolution feed asks "which component does
  * this node belong to NOW?" against an artifact that grows in O(batch)
  * per drain.
  *
  * The monotonicity that makes this possible: new edges only MERGE
  * components, never split them. So the store never rewrites labels in
  * place — it appends batch-sized facts and RESOLVES at read time:
  *
  *   meta                     (node_col) — frozen at the first ingest
  *   labels/ingest=<key>/     (node, comp) — each node's label AT ITS
  *                            INSERT ingest; ingests partition the node
  *                            space (a node's row is written once, by
  *                            the ingest that first saw it). Flat from
  *                            appends; compact lands the consolidated
  *                            base BUCKETED (bucket = node mod the
  *                            store's pinned count — meta `lsm_buckets`,
  *                            4096 for new stores, 256 pre-pinning) so
  *                            point lookups prune it (the SpanStore LSM
  *                            pair).
  *   remap/ingest=<key>/      (old_comp, new_comp) — the merges this
  *                            ingest caused, FULLY RESOLVED at append
  *                            time (old_comp is a root as of the
  *                            previous ingest), so resolution applies
  *                            each remap table at most once and chain
  *                            depth ≤ #uncompacted ingests.
  *   edges/ingest=<key>/      the batch's distinct edges — NOT read by
  *                            append or lookup; kept solely so [[forget]]
  *                            can recompute exactly (see below) and
  *                            [[compact]] could rebuild from scratch.
  *   _commits/<key>           commit marker, written LAST
  *
  * Scale shape: [[append]] reads committed labels only for the batch's
  * touched nodes (broadcast semi-join — map-only over the label
  * footprint, bucket-pruned once compacted), contracts the batch edges
  * by those labels, runs CC on the CONTRACTED graph (batch-sized —
  * [[Dedup.clusterReps]], driver fast path under its measured cap), and
  * writes three batch-sized partials. Nothing store-sized rewrites.
  * [[labels]] resolves the remap chain by iterated joins — each remap
  * table is merge-sized (broadcast), depth bounded by the uncompacted
  * ingest count, zero after a compact. [[forget]] of an edge SPLITS
  * components — fundamentally not incremental (deleting an edge can
  * disconnect anything downstream), so it recomputes CC over the
  * surviving stored edges and consolidates: exact, priced as a rebuild,
  * and said so here rather than hidden (the SpanStore non-invertibility
  * honesty note, graph edition).
  *
  * Replay idempotency is VALUE-level, not log-level: a re-delivered
  * batch's endpoints are already labeled, its contracted edges connect
  * already-merged roots, and the merge set comes back empty — labels
  * and every query answer are untouched. The batch's edges still
  * commit (an edges-only ingest): the store cannot distinguish a
  * replay from a new-but-redundant edge without reading the whole log,
  * and dropping either would hole the edge log [[forget]]'s exactness
  * depends on. Duplicates collapse under the consolidation distinct;
  * compact folds the extra ingests.
  *
  * Single-writer, like every graft maintenance operator (lease at the
  * streaming layer; [[compact]]/[[forget]] are lease-guarded directly).
  */
object GraphStore {

  /** The per-ingest tables; they share each ingest's commit key. */
  private val Tables = Seq("labels", "remap", "edges")

  /** The store's node column; `op` refuses an empty store. */
  private def nodeColOf(store: StoreProtocol.Store, op: String): String = {
    require(!store.isEmpty, s"GraphStore.$op: nothing committed at ${store.dir}")
    store.meta.getAs[String]("node_col")
  }

  private def metaFrame(spark: SparkSession, nodeCol: String,
                        buckets: Int): DataFrame = {
    import spark.implicits._
    require(buckets >= 1, s"GraphStore: lsmBuckets must be >= 1, got $buckets")
    Seq((nodeCol, buckets)).toDF("node_col", "lsm_buckets")
  }

  /** Committed (node, comp) label rows — the shared LSM pair
    * ([[StoreProtocol.readLsm]]); when `touched` is given, the bucketed
    * base prunes to those nodes' buckets under the store's PINNED
    * modulus (meta `lsm_buckets`; 256 for pre-pinning layouts).
    */
  private def readLabels(spark: SparkSession, store: StoreProtocol.Store,
                         keys: Seq[String], touched: Option[DataFrame],
                         buckets: Int): DataFrame =
    StoreProtocol.readLsm(spark, store.fs, s"${store.dir}/labels", keys,
      Seq("node", "comp"),
      touched.map(t => StoreProtocol.touchedLsmBuckets(t, "node", buckets)),
      buckets)

  /** The committed remap chain, oldest ingest first (ingest keys carry
    * their generation prefix `i<n>_`/`r<n>_`, so lexicographic-by-
    * generation order is append order).
    */
  private def remapTables(spark: SparkSession, store: StoreProtocol.Store,
                          keys: Seq[String]): Seq[DataFrame] =
    keys.sortBy(StoreProtocol.genOf).flatMap { k =>
      val p = new org.apache.hadoop.fs.Path(store.ingestDir("remap", k))
      if (store.fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
    }

  /** Resolve `df`'s `comp` column through the remap chain: apply each
    * merge-sized remap table in append order (each at most once — the
    * append-time full resolution guarantees a remap's old_comp is a
    * root of the PREVIOUS generation, so one ordered pass reaches the
    * current root; no fixpoint loop needed).
    */
  private def resolve(df: DataFrame, remaps: Seq[DataFrame]): DataFrame =
    remaps.foldLeft(df) { (acc, r) =>
      acc.join(broadcast(r), acc("comp") === r("old_comp"), "left")
        .select(acc.columns.filterNot(_ == "comp").map(col) :+
          coalesce(col("new_comp"), col("comp")).as("comp"): _*)
    }

  /** Cap under which [[append]]'s batch computation — contraction,
    * batch CC, the merge/label deltas and the commit-key hash — runs on
    * the driver over the collected batch edges (the pageRankLocal /
    * clusterRepsLocal bounded-state precedent, measured off the
    * checkpointed batch frame). The committed-label lookup STAYS a
    * distributed pruned read (the store side is corpus-sized); only its
    * touched-bounded result collects. Components are min-label integer
    * facts and the key hash replays Spark's xxhash64 exactly
    * (GraphStoreSpec pins store-tree parity, ingest keys included), so
    * the two paths are interchangeable mid-stream. Above the cap the
    * distributed path is unchanged.
    */
  private[graft] val LocalBatchEdgeCap: Long = 1L << 20

  /** Ingest a batch of undirected edges (two node columns): committed
    * labels for the touched nodes load (pruned), the batch contracts to
    * component roots, CC runs on the contracted graph, and the
    * batch-sized deltas commit as one marked ingest. Returns
    * (new nodes labeled, components merged).
    */
  def append(spark: SparkSession, dir: String, edges: DataFrame,
             nodeCol: String = "node",
             lsmBuckets: Int = StoreProtocol.WideLsmBuckets,
             localBatchEdgeCap: Long = LocalBatchEdgeCap): (Long, Long) = {
    val store = StoreProtocol.open(spark, dir)
    val committed = store.keys
    val pinnedBuckets =
      if (store.isEmpty) lsmBuckets
      else {
        val storedNode = nodeColOf(store, "append")
        require(storedNode == nodeCol,
          s"GraphStore.append: store at $dir is keyed on '$storedNode', " +
            s"got '$nodeCol'")
        StoreProtocol.pinnedLsmBuckets(store.meta) // recorded layout is authoritative
      }
    val Array(ea, eb) = edges.columns.take(2)
    val e = edges.select(col(ea).cast("long").as("a"), col(eb).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    val nE = e.count() // cheap readback of the checkpoint
    if (nE == 0L) return (0L, 0L) // empty batch: nothing to log
    if (nE <= localBatchEdgeCap)
      return appendLocal(spark, store, pinnedBuckets, nodeCol, lsmBuckets, e)
    val touched = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node"))).distinct()
      .localCheckpoint(true)
    // committed labels of touched nodes, fully resolved to current roots
    val known =
      if (committed.isEmpty) touched.limit(0).withColumn("comp", col("node"))
      else resolve(
        readLabels(spark, store, committed, Some(touched), pinnedBuckets)
          .join(broadcast(touched), Seq("node"), "left_semi"),
        remapTables(spark, store, committed))
        .localCheckpoint(true)
    // contract: every endpoint becomes its current root (new nodes are
    // their own root), then CC on the batch-sized contracted graph
    val lbl = touched.join(known, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
      .localCheckpoint(true)
    val la = lbl.select(col("node").as("a"), col("comp").as("ca"))
    val lb = lbl.select(col("node").as("b"), col("comp").as("cb"))
    val contracted = e.join(la, "a").join(lb, "b")
      .select(col("ca").as("id_a"), col("cb").as("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    val roots = lbl.select(col("comp").as("node")).distinct()
      .localCheckpoint(true)
    // the batch CC's full root→root mapping; the PERSISTED remap keeps
    // only the COMMITTED roots' rows (read-time resolution exists for
    // rows already on disk — a new node's root changing is just its
    // initial labeling, not a merge, and recording it would miscount
    // merges and bloat the chain)
    val fullMap = Dedup.clusterReps(roots, contracted, "node")
      .filter(col("node") =!= col("rep_id"))
      .select(col("node").as("old_comp"), col("rep_id").as("new_comp"))
      .localCheckpoint(true)
    val merged = fullMap.join(
        known.select(col("comp").as("old_comp")).distinct(),
        Seq("old_comp"), "left_semi")
      .localCheckpoint(true)
    // new nodes' labels: their batch-CC root through the FULL map (a
    // new node whose pre-CC root was another new node must land on the
    // final root — the persisted remap never sees that hop)
    val newNodes = lbl.join(known.select("node"), Seq("node"), "left_anti")
      .join(fullMap, col("comp") === col("old_comp"), "left")
      .select(col("node"),
        coalesce(col("new_comp"), col("comp")).as("comp"))
      .localCheckpoint(true)
    // three independent readbacks of already-checkpointed frames — the
    // counts and the key hash overlap instead of serializing three
    // planning round-trips (guide §2.6)
    val mergesF = graft.Par.run(merged.count())
    val freshF = graft.Par.run(newNodes.count())
    val merges = graft.Par.await(mergesF)
    val fresh = graft.Par.await(freshF)
    // EVERY non-empty batch commits, even when it labels nothing and
    // merges nothing: a new-but-redundant edge (both endpoints known,
    // same component) changes no label TODAY but must enter the edge
    // log, or a later forget of a parallel path would split a component
    // the true graph keeps connected — forget's exactness rides on the
    // log being complete (review catch r13). A genuine replay therefore
    // appends a duplicate edges-only ingest (distinct()-collapsed at
    // consolidation, bounded by re-delivery count, folded by compact);
    // labels and resolution are untouched either way.
    //
    // key hash over the TOUCHED set, not the new nodes: a replayed or
    // merge-only batch still needs a deterministic key so a crashed
    // attempt's retry overwrites its own orphan
    val key = store.nextKey("i",
      touched.agg(StoreProtocol.contentHash(col("node").cast("string")))
        .head().getString(0))
    ingestBatch(spark, store, key, nodeCol, lsmBuckets, newNodes,
      if (merges > 0L) Some(merged) else None, e)
    (fresh, merges)
  }

  /** Commit one append's three tables under `key`. They derive from
    * checkpointed frames and land in disjoint dirs, so the writes
    * overlap (unmarked dirs stay invisible whatever subset a crash
    * leaves; the marker comes after the barrier). The labels write is
    * unconditional (possibly empty): every committed ingest must carry
    * a labels dir for the multi-path reader.
    */
  private def ingestBatch(spark: SparkSession, store: StoreProtocol.Store,
                          key: String, nodeCol: String, lsmBuckets: Int,
                          labels: DataFrame, remap: Option[DataFrame],
                          edges: DataFrame): Unit =
    StoreProtocol.ingest(store, Tables, key,
        Some(metaFrame(spark, nodeCol, lsmBuckets))) { at =>
      graft.Par.awaitAll(
        graft.Par.run(labels.write.mode("overwrite").parquet(at("labels"))),
        graft.Par.run(remap.foreach(_.write.mode("overwrite").parquet(at("remap")))),
        graft.Par.run(edges.write.mode("overwrite").parquet(at("edges"))))
    }

  /** The driver batch computation behind [[append]]'s fast path — the
    * distributed tail fold for fold: contract the collected batch edges
    * by the committed roots (the label lookup stays a DISTRIBUTED
    * bucket-pruned read; only its touched-bounded result collects, plus
    * the merge-sized remap chain), min-label union-find on the
    * contracted roots (clusterRepsLocal's semantics), the same
    * merge/new-label split, and the identical commit key
    * ([[StoreProtocol.localContentHash]]). Components and labels are
    * integer facts — no numeric grid to replicate.
    */
  private def appendLocal(spark: SparkSession, store: StoreProtocol.Store,
      pinnedBuckets: Int, nodeCol: String, lsmBuckets: Int,
      e: DataFrame): (Long, Long) = {
    val committed = store.keys
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val eRows = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val touched: Array[Long] = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Long]
      eRows.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val nodeSchema = StructType(Seq(StructField("node", LongType)))
    // committed labels of touched nodes, resolved to current roots: the
    // read prunes to the touched buckets exactly like the distributed
    // path (same pmod), semi-joins the touched set, and collects the
    // touched-bounded result; the merge-sized remap chain collects once
    // and composes on the driver (resolve applied each table once, in
    // append order — the same single ordered pass)
    val knownMap: collection.Map[Long, Long] =
      if (committed.isEmpty) Map.empty[Long, Long]
      else {
        val touchedRows = new java.util.ArrayList[Row](touched.length)
        touched.foreach(v => touchedRows.add(Row(v)))
        val touchedDf = spark.createDataFrame(touchedRows, nodeSchema)
        val tb = touched.map(v =>
          (((v % pinnedBuckets) + pinnedBuckets) % pinnedBuckets).toInt)
          .distinct.toSeq
        val lbl = StoreProtocol.readLsm(spark, store.fs, s"${store.dir}/labels",
            committed, Seq("node", "comp"), Some(tb), pinnedBuckets)
          .join(broadcast(touchedDf), Seq("node"), "left_semi")
          .collect() // bounded: ≤ |touched|
        val remaps = remapTables(spark, store, committed).map(
          _.collect() // bounded: merge volume (≤ MaxComposedRemap per read)
            .map(r => r.getLong(0) -> r.getLong(1)).toMap)
        val m = scala.collection.mutable.HashMap.empty[Long, Long]
        lbl.foreach { r =>
          m(r.getLong(0)) =
            remaps.foldLeft(r.getLong(1))((c, t) => t.getOrElse(c, c))
        }
        m
      }
    // contract endpoints to current roots, then min-label union-find on
    // the contracted root graph (the kernel Dedup.clusterRepsLocal uses)
    def rootOf(v: Long): Long = knownMap.getOrElse(v, v)
    val uf = new MinLabelUnionFind
    val rootSet = scala.collection.mutable.LinkedHashSet.empty[Long]
    touched.foreach(v => rootSet += rootOf(v))
    eRows.foreach { case (a, b) => uf.union(rootOf(a), rootOf(b)) }
    // the batch CC's full root→root mapping (rep ≠ root entries only)
    val fullMap = scala.collection.mutable.HashMap.empty[Long, Long]
    rootSet.foreach { r =>
      val rep = uf.find(r)
      if (rep != r) fullMap(r) = rep
    }
    val knownRoots = knownMap.values.toSet
    val merged = fullMap.iterator
      .filter { case (old, _) => knownRoots.contains(old) }.toArray.sortBy(_._1)
    val newNodes = touched.iterator.filterNot(knownMap.contains)
      .map(v => (v, fullMap.getOrElse(v, v))).toArray
    val merges = merged.length.toLong
    val fresh = newNodes.length.toLong
    // same key as the distributed path: the touched set's content hash,
    // replayed on the driver
    val key = store.nextKey("i",
      StoreProtocol.localContentHash(touched.iterator.map(_.toString)))
    val pairSchema = StructType(Seq(StructField("node", LongType),
      StructField("comp", LongType)))
    def pairDf(rows: Array[(Long, Long)], s: StructType): DataFrame = {
      val l = new java.util.ArrayList[Row](rows.length)
      rows.foreach { case (a, b) => l.add(Row(a, b)) }
      spark.createDataFrame(l, s)
    }
    ingestBatch(spark, store, key, nodeCol, lsmBuckets,
      pairDf(newNodes, pairSchema),
      if (merges > 0L) Some(pairDf(merged, StructType(Seq(
        StructField("old_comp", LongType), StructField("new_comp", LongType)))))
      else None,
      e)
    (fresh, merges)
  }

  /** The full resolved labeling: (nodeCol, component), every node ever
    * ingested, labels current through the whole remap chain.
    */
  def labels(spark: SparkSession, dir: String): DataFrame = {
    val store = StoreProtocol.open(spark, dir)
    val nodeCol = nodeColOf(store, "labels")
    resolve(readLabels(spark, store, store.keys, touched = None,
          StoreProtocol.pinnedLsmBuckets(store.meta)),
        remapTables(spark, store, store.keys))
      .select(col("node").as(nodeCol), col("comp").as("component"))
  }

  /** Exact coreness decomposition at READ time over the store's
    * complete edge log — the incremental face of [[Graph.coreness]]
    * (r14 verdict #5). Coreness is not merge-monotone the way
    * components are (a new edge can RAISE core numbers arbitrarily far
    * from where it lands), so there is no label-plus-remap shortcut:
    * the store's contract is the complete, distinct-collapsed edge log
    * it already keeps for [[forget]], and the decomposition recomputes
    * over it — read cost ∝ committed edges × peel depth, priced here
    * rather than hidden. Output is (nodeCol, coreness), identical to
    * running [[Graph.coreness]] on every edge ever appended.
    */
  def coreness(spark: SparkSession, dir: String,
               maxRounds: Int = 1000): DataFrame = {
    val store = StoreProtocol.open(spark, dir)
    val nodeCol = nodeColOf(store, "coreness")
    // raw log in; Graph.coreness canonicalizes (a<b, de-duped) itself,
    // which also collapses replayed ingests' duplicate edges
    val edges = store.read("edges").select(col("a"), col("b"))
    Graph.coreness(edges, maxRounds)
      .select(col("node").as(nodeCol), col("coreness"))
  }

  /** Point lookup: current components of `nodes` (one column). Nodes
    * never ingested are absent. The label read prunes to the nodes'
    * buckets once the base is compacted.
    */
  def componentOf(spark: SparkSession, dir: String,
                  nodes: DataFrame): DataFrame = {
    val store = StoreProtocol.open(spark, dir)
    val nodeCol = nodeColOf(store, "componentOf")
    val want = nodes.select(col(nodes.columns.head).cast("long").as("node"))
      .distinct().localCheckpoint(true)
    resolve(
        readLabels(spark, store, store.keys, Some(want),
            StoreProtocol.pinnedLsmBuckets(store.meta))
          .join(broadcast(want), Seq("node"), "left_semi"),
        remapTables(spark, store, store.keys))
      .select(col("node").as(nodeCol), col("comp").as("component"))
  }

  /** Fold the flat ingest partials into the bucketed base. Returns
    * (visible ingests before, after).
    *
    * ADDITIVE, never a base rewrite (r14 verdict #1, sharpened in r15):
    * a node's label row is written ONCE, by the ingest that first saw
    * it, so generations hold disjoint node sets by construction — the
    * tail's new-node labels (resolved to current roots on the way) land
    * as their OWN bucketed generation via the supersede flip
    * ([[StoreProtocol.commitIncremental]]); no surviving generation is
    * read or written, and the fold costs O(tail) for every tail shape. The tail's remap tables fold into
    * ONE path-compressed table carried by the new generation, so
    * read-time resolution is a single broadcast join after every compact
    * (re-applying it to already-resolved rows is a no-op by the root
    * lifecycle: a remap's old_comp is a DEAD root, a resolved row's comp
    * is a LIVE one). The tail's edge logs concatenate into the new
    * generation — O(tail), the complete-log contract intact.
    *
    * Two cases still take the whole-directory rewrite, and say so:
    * `lsmBuckets` migration (every row changes bucket; the swap re-pins
    * the meta atomically with the layout), and a composed remap grown
    * past [[MaxComposedRemap]] (it rides every read as a broadcast —
    * a full fold resets it to zero, amortized against the merge volume
    * that grew it, not against ingest count).
    */
  def compact(spark: SparkSession, dir: String, lsmBuckets: Int = 0,
              maxGens: Int = StoreProtocol.MaxBaseGens): (Int, Int) =
    Lease.withLease(spark, dir, "GraphStore.compact") {
      require(maxGens >= 1, s"GraphStore.compact: maxGens >= 1, got $maxGens")
      val store = StoreProtocol.open(spark, dir)
      StoreProtocol.sweepSuperseded(store.fs, store.root, Tables)
      val before = store.keys.length
      if (before == 0) (0, 0)
      else {
        val pinned = StoreProtocol.pinnedLsmBuckets(store.meta)
        val migrating = lsmBuckets > 0 && lsmBuckets != pinned
        if (migrating) {
          consolidate(spark, store, None, Some(lsmBuckets))
          (before, 1)
        } else {
          val plan = StoreProtocol.planFold(store.fs, s"$dir/labels",
            store.keys, maxGens, "r")
          sweepStaleRemaps(store, plan.gens)
          if (!plan.due) (before, before)
          else (before, consolidateIncremental(spark, store, plan, pinned))
        }
      }
    }

  /** Composed-remap size bound: past it a compact falls back to the full
    * fold (remap resets to zero) rather than carrying an ever-growing
    * broadcast on every read. 2M (old_comp, new_comp) longs ≈ 32 MB —
    * comfortably broadcastable; growth tracks MERGE volume (dead roots),
    * which stalls as a graph's components stabilize.
    */
  val MaxComposedRemap = 2000000L

  /** The additive fold behind [[compact]]'s common path: the retired
    * keys' labels (flat tail + any tier-folded small generations)
    * resolve to current roots and land as ONE new bucketed generation;
    * no surviving generation is read or written. Returns the visible
    * ingest count after the flip, delegating to the full fold when the
    * composed remap outgrows [[MaxComposedRemap]].
    */
  private def consolidateIncremental(spark: SparkSession,
      store: StoreProtocol.Store, plan: StoreProtocol.FoldPlan,
      buckets: Int): Int = {
    import plan.{flat, folded, key, live, retired}
    // the full visible chain, composed to one path-compressed table the
    // new generation carries for the LIVE older generations' unresolved
    // rows — when everything folds into the new generation there are
    // none, the chain folds AWAY (the full-fold contract), and no
    // composition is needed at all. Merge-sized joins, count bounded
    // before anything rewrites.
    val remaps = remapTables(spark, store, store.keys)
    val composed = if (live.isEmpty) None else composeRemaps(remaps)
    val composedCount = composed.map(_.count()).getOrElse(0L)
    if (composedCount > MaxComposedRemap) {
      consolidate(spark, store, None)
      return 1
    }
    val tail =
      if (flat.isEmpty) None
      else Some(store.read("labels", flat).select(col("node"), col("comp")))
    // the folded small generations read WHOLE (they are the fold's own
    // cost, chosen smallest-first); live generations are never opened
    val foldedRows =
      if (folded.isEmpty) None
      else Some(readLabels(spark, store, folded, touched = None, buckets))
    val mergedLabels = (tail.toSeq ++ foldedRows.toSeq) match {
      case Nil =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("node", LongType),
            StructField("comp", LongType))))
      case pieces =>
        // node rows are disjoint across ingests by construction (a node
        // is written once, by the ingest that first saw it) — resolve to
        // CURRENT roots so the new generation needs no chain at read time
        resolve(pieces.reduce(_.unionByName(_)), remaps)
    }
    StoreProtocol.writeLsmBase(mergedLabels, "node",
      store.ingestDir("labels", key), buckets)
    composed.filter(_ => composedCount > 0L).foreach(
      _.write.mode("overwrite").parquet(store.ingestDir("remap", key)))
    store.read("edges", retired)
      .write.mode("overwrite").parquet(store.ingestDir("edges", key))
    StoreProtocol.commitIncremental(store.fs, store.root, Tables, key, retired)
    // older generations' composed remaps are subsets of the new one (each
    // was composed from the chain visible at its creation, which the new
    // composition consumed) — redundant, and re-applying them is a no-op,
    // but every read broadcasts them: sweep
    sweepStaleRemaps(store, live :+ key)
    live.length + 1
  }

  /** Fold the visible remap chain into one path-compressed table:
    * old_comp → FINAL root, every intermediate hop collapsed. Each step
    * re-points the accumulated entries through the next table and adds
    * that table's fresh ones — merge-sized broadcast joins, chain-depth
    * many of them.
    */
  private def composeRemaps(remaps: Seq[DataFrame]): Option[DataFrame] =
    remaps match {
      case Seq() => None
      case head +: rest => Some(rest.foldLeft(head.localCheckpoint(true)) {
        (acc, r0) =>
          val r = r0.select(col("old_comp").as("o2"),
            col("new_comp").as("n2")).localCheckpoint(true)
          val repointed = acc
            .join(broadcast(r), acc("new_comp") === col("o2"), "left")
            .select(acc("old_comp"),
              coalesce(col("n2"), acc("new_comp")).as("new_comp"))
          val fresh = r
            .join(acc.select(col("old_comp")),
              col("o2") === col("old_comp"), "left_anti")
            .select(col("o2").as("old_comp"), col("n2").as("new_comp"))
          repointed.unionByName(fresh).localCheckpoint(true)
      })
    }

  /** Delete every bucketed generation's remap table except the newest
    * generation that carries one — each composed table subsumes the
    * older ones by construction (safe even interrupted: re-applying a
    * subsumed table is a no-op).
    */
  private def sweepStaleRemaps(store: StoreProtocol.Store,
                               gens: Seq[String]): Unit = {
    def remap(k: String) = new org.apache.hadoop.fs.Path(store.ingestDir("remap", k))
    val withRemap = gens.filter(k => store.fs.exists(remap(k)))
    if (withRemap.length > 1) {
      val newest = withRemap.maxBy(k => (StoreProtocol.genOf(k), k))
      withRemap.filterNot(_ == newest).foreach(k => store.fs.delete(remap(k), true))
    }
  }

  /** Retract EDGES (two node columns, same shape as [[append]]'s input).
    * Splits are fundamental here: removing an edge can disconnect
    * anything that routed through it, so this is priced as a REBUILD —
    * CC recomputes over the surviving stored edges, labels rewrite, and
    * the store consolidates to one ingest. Exact, loud about its cost.
    * Nodes left with no edges keep self-labels (they were once seen).
    * Returns edges removed.
    */
  def forget(spark: SparkSession, dir: String, edges: DataFrame): Long =
    Lease.withLease(spark, dir, "GraphStore.forget") {
      val Array(ea, eb) = edges.columns.take(2)
      consolidate(spark, StoreProtocol.open(spark, dir), Some(edges
        .select(col(ea).cast("long").as("a"), col(eb).cast("long").as("b"))))
    }

  private def consolidate(spark: SparkSession, store: StoreProtocol.Store,
                          drop: Option[DataFrame],
                          migrateBuckets: Option[Int] = None): Long = {
    if (store.isEmpty) return 0L
    val nodeCol = store.meta.getAs[String]("node_col")
    val buckets = migrateBuckets.getOrElse(StoreProtocol.pinnedLsmBuckets(store.meta))
    val allEdges = store.read("edges").distinct().localCheckpoint(true)
    // drop set symmetric: (a,b) retracts the stored edge either way round
    val (survivors, removed) = drop match {
      case Some(d) =>
        val dd = d.filter(col("a") =!= col("b")).distinct()
        val sym = dd.unionByName(
          dd.select(col("b").as("a"), col("a").as("b"))).localCheckpoint(true)
        val kept = allEdges.join(sym, Seq("a", "b"), "left_anti")
          .localCheckpoint(true)
        (kept, allEdges.count() - kept.count())
      case None => (allEdges, 0L)
    }
    if (drop.isDefined && removed == 0L) return 0L
    val nodes = readLabels(spark, store, store.keys, touched = None, buckets)
      .select(col("node")).distinct().localCheckpoint(true)
    val relabeled = Dedup.clusterReps(nodes,
        survivors.select(col("a").as("id_a"), col("b").as("id_b")), "node")
      .select(col("node"), col("rep_id").as("comp"))
    val stats = nodes
      .agg(count(lit(1)), StoreProtocol.contentHash(col("node").cast("string")))
      .head()
    StoreProtocol.rewrite(store.fs, store.root, "__consolidate",
        "GraphStore.consolidate") { tmp =>
      store.fs.mkdirs(tmp)
      if (stats.getLong(0) > 0L)
        StoreProtocol.ingest(store.emptyAt(tmp), Tables,
            store.nextKey("r", stats.getString(1)),
            Some(metaFrame(spark, nodeCol, buckets))) { at =>
          StoreProtocol.writeLsmBase(relabeled, "node", at("labels"), buckets)
          survivors.write.mode("overwrite").parquet(at("edges"))
        }
    }
    removed
  }
}
