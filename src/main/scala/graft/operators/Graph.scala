package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.FixedPointSum.{Quantum, qsum, qsumLocal, quantize}

/** Event-graph analytics: first-order Markov transition extraction over an
  * event stream, and weighted PageRank over the resulting (or any) edge
  * list. The behavioral-analytics counterpart of the reference's audit
  * aggregations (`scr/etl_incremental_audit.py` derives per-file metrics;
  * here we derive per-transition metrics) re-expressed at corpus scale.
  *
  * Scale shape:
  *   - `transitions` costs ONE shuffle by entity (the per-entity `lead`
  *     window) plus a tiny aggregation to the (src, dst) edge list — the
  *     edge list is bounded by |event-type vocabulary|², independent of
  *     corpus size, so everything after the window is model-sized.
  *   - `pageRank` iterates join + aggregate on the EDGE list, never on the
  *     raw events: per iteration one join of edges with the rank vector
  *     (node-sized — AQE broadcasts it when small) and one grouped sum.
  *     For a type-transition graph that is dozens of rows; for a general
  *     graph it stays fully distributed — no driver collect anywhere.
  *
  * Determinism: every cross-row sum funnels through the fixed-point
  * quantizer (floor ×1e12 → exact DECIMAL(38,0) sum → double), the same
  * grid the quality-model/DSIR oracles replay, so ranks are bit-identical
  * regardless of partitioning and across engines. Per-row ops (double
  * division, multiplication) are IEEE-754 deterministic.
  */
object Graph {

  /** Caps under which [[pageRankCounted]] runs its rank loop on the
    * driver (the Dedup.clusterRepsLocal precedent): the transition
    * probabilities are still derived DISTRIBUTED (one pass over the edge
    * list — the decimal out-weight fold never moves), but once the graph
    * is measured model-sized (≤ 64k nodes AND ≤ 1M edges — a few MB
    * collected), `iters` rounds of join + aggregate + checkpoint over
    * node-sized frames collapse to in-memory folds on the SAME qsum grid
    * ([[graft.functions.FixedPointSum.qsumLocal]]) — bit-identical ranks,
    * ~3 scheduler round-trips per round saved. Above the caps nothing
    * changes: the loop stays fully distributed, no driver collect anywhere.
    */
  private[graft] val LocalNodeCap = 1 << 16
  private[graft] val LocalEdgeCap = 1 << 20

  /** First-order transition matrix: for each entity's event sequence
    * (ordered by `tsCol`, ties broken by `tieCol`), count src→dst
    * transitions and the conditional probability p = n / out(src).
    *
    * Output: (src, dst, n, p) — one row per observed transition pair.
    * The division is a single double op (exact same result in any
    * engine); p needs no quantizer.
    */
  def transitions(events: DataFrame, entityCol: String, typeCol: String,
                  tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val edges = events
      .select(col(entityCol), col(typeCol), col(tsCol), col(tieCol))
      .withColumn("dst", lead(col(typeCol), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col(typeCol).as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    // out-degree totals: a second window over the already model-sized edge
    // list (≤ |types|² rows) — not a corpus-scale shuffle
    val wSrc = Window.partitionBy(col("src"))
    edges
      .withColumn("out_n", sum(col("n")).over(wSrc))
      .select(col("src"), col("dst"), col("n"),
        (col("n").cast("double") / col("out_n").cast("double")).as("p"))
  }

  /** Weighted PageRank over an edge list (srcCol, dstCol, weightCol), a
    * fixed number of synchronous iterations:
    *
    *   rank'(v) = (1-d)/N + d * ( Σ_{u→v} rank(u)·w(u,v)/out(u)
    *                              + dangling/N )
    *
    * where `dangling` is the summed rank of nodes with no out-edges
    * (their mass is redistributed uniformly — the standard treatment).
    *
    * Fully distributed: the per-iteration state is one (node, rank) row
    * per node; each iteration is edges ⋈ ranks + a grouped qsum. The rank
    * DataFrame is `localCheckpoint`ed eagerly each iteration so the plan
    * stays O(1) deep and the ContextCleaner can reclaim blocks (the
    * engine-wide cache discipline, commit e3d8d67).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iters: Int = 5,
               damping: Double = 0.85, tol: Double = 0.0): DataFrame =
    pageRankCounted(edges, srcCol, dstCol, weightCol, iters, damping, tol)._1

  /** [[pageRank]] plus the number of iterations actually run — the spec
    * hook for the convergence stop. `tol > 0` adds an L1-delta check per
    * round (one more model-sized aggregate, read as a 1-row collect) and
    * stops as soon as Σ|rank′−rank| < tol; `tol = 0` (default — the
    * oracle anchor) always runs the fixed `iters`.
    */
  private[graft] def pageRankCounted(edges: DataFrame, srcCol: String,
                                     dstCol: String, weightCol: String,
                                     iters: Int = 5, damping: Double = 0.85,
                                     tol: Double = 0.0,
                                     localNodeCap: Long = LocalNodeCap,
                                     localEdgeCap: Long = LocalEdgeCap): (DataFrame, Int) = {
    require(iters >= 1, "pageRank needs at least one iteration")
    val spark = edges.sparkSession
    // null endpoints/weights drop up front so BOTH loops see the same
    // edge set (r15 advice: a null dst routed mass to the null node in
    // the local loop but was dropped by the distributed incoming join,
    // and a null p read as 0.0 locally but null-skipped distributed) —
    // no graft edge producer emits nulls, so declared results are
    // untouched; the filter just pins the two paths together
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("double").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)

    // out-weights use a wide exact decimal (not the ±1e6-clamped qsum grid):
    // edge weights are typically counts that exceed the clamp at corpus
    // scale; DECIMAL(38,6) keeps the sum exact and order-free to 1e32
    val outw = e.groupBy("src")
      .agg(sum(col("w").cast(DecimalType(38, 6))).cast("double").as("out_w"))
    // transition probability per edge: one double division, deterministic
    val pe = e.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("out_w")).as("p"))
      .localCheckpoint(true)

    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge list (no nodes found)")
    // model-sized graph: run the rank loop on the driver over the SAME
    // grid (see [[LocalNodeCap]] — pe/nodes are already materialized, so
    // the edge count and the collects are cheap readbacks)
    if (n <= localNodeCap && pe.count() <= localEdgeCap)
      return pageRankLocal(spark, pe, nodes, n, iters, damping, tol)
    val nD = lit(n.toDouble)
    val base = lit(1.0 - damping) / nD
    val d = lit(damping)

    // src side of pe, for the dangling-mass anti-join
    val srcs = pe.select(col("src").as("node")).distinct().localCheckpoint(true)

    var ranks = nodes.select(col("node"), (lit(1.0) / nD).as("rank"))
      .localCheckpoint(true)
    var ran = 0
    var converged = false
    while (ran < iters && !converged) {
      val incoming = pe.join(ranks, pe("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(qsum(col("rank") * col("p")).as("inc"))
      // dangling mass: aggregate over an anti-join — empty set sums to null
      val dangling = ranks.join(srcs, Seq("node"), "left_anti")
        .agg(coalesce(qsum(col("rank")), lit(0.0)).as("dang"))
      val next = nodes
        .join(incoming, nodes("node") === incoming("dst"), "left")
        .crossJoin(dangling)
        .select(col("node"),
          (base + d * (coalesce(col("inc"), lit(0.0)) + col("dang") / nD))
            .as("rank"))
        .localCheckpoint(true)
      ran += 1
      if (tol > 0.0 && ran < iters) {
        // L1 movement this round: node-sized join of the two checkpointed
        // rank vectors, ONE row back to the driver
        val delta = next.join(ranks.select(col("node"), col("rank").as("prev")), "node")
          .agg(coalesce(qsum(abs(col("rank") - col("prev"))), lit(0.0)))
          .head().getDouble(0)
        converged = delta < tol
      }
      ranks = next
    }
    (ranks, ran)
  }

  /** The driver rank loop for model-sized graphs — the distributed loop
    * above, fold for fold: incoming(dst) = grid-sum over in-edges of
    * rank(src)·p; dangling = grid-sum of non-source ranks (0 when none,
    * matching the coalesce); rank′ = base + d·(incoming + dangling/n);
    * the optional L1 delta on the same grid. Every cross-row fold goes
    * through [[graft.functions.FixedPointSum.qsumLocal]] and every
    * per-element op is the same IEEE double op the distributed expressions
    * evaluate, so ranks are BIT-IDENTICAL (GraphSpec pins local ≡
    * forced-distributed).
    * `pe`/`nodes` arrive materialized; node values keep their original
    * type through the generic Row round-trip.
    */
  private def pageRankLocal(spark: org.apache.spark.sql.SparkSession,
                            pe: DataFrame, nodes: DataFrame, n: Long,
                            iters: Int, damping: Double,
                            tol: Double): (DataFrame, Int) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val nodeRows = nodes.collect() // bounded: <= localNodeCap
    val nodeVals: Array[Any] = nodeRows.map(_.get(0))
    val idx = nodeVals.zipWithIndex.toMap
    val edgeRows = pe.collect() // bounded: <= localEdgeCap
    val m = edgeRows.length
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    val p = new Array[Double](m)
    var i = 0
    while (i < m) {
      src(i) = idx(edgeRows(i).get(0)); dst(i) = idx(edgeRows(i).get(1))
      p(i) = edgeRows(i).getDouble(2); i += 1
    }
    val nn = nodeVals.length
    val isSrc = new Array[Boolean](nn)
    src.foreach(s => isSrc(s) = true)
    val dangIdx = (0 until nn).filterNot(isSrc)
    val nD = n.toDouble
    val base = (1.0 - damping) / nD
    var ranks = Array.fill(nn)(1.0 / nD)
    var ran = 0
    var converged = false
    while (ran < iters && !converged) {
      // per-dst grid sum of rank·p — exact integer accumulation per
      // group, identical to the distributed partial+final qsum
      val acc = Array.fill(nn)(0L) // |terms| * 1e18 can overflow only past
      val accBig = Array.fill[BigInt](nn)(null) // ~9 terms at the clamp —
      var j = 0 //                     spill that group to BigInt exactly
      while (j < m) {
        val q = quantize(ranks(src(j)) * p(j))
        val d0 = dst(j)
        if (accBig(d0) != null) accBig(d0) += q
        else {
          val s = acc(d0) + q
          // overflow check (Math.addExact semantics without the throw)
          if (((acc(d0) ^ s) & (q ^ s)) < 0) accBig(d0) = BigInt(acc(d0)) + q
          else acc(d0) = s
        }
        j += 1
      }
      def incOf(v: Int): Double =
        (if (accBig(v) != null) accBig(v).toDouble else acc(v).toDouble) / Quantum
      val dang = qsumLocal(dangIdx.map(ranks))
      // a node with no in-edges folds to 0 exactly like the distributed
      // coalesce(inc, 0.0) — a zero integer sum and an absent group both
      // read 0.0, so no presence tracking is needed
      val next = Array.tabulate(nn) { v =>
        base + damping * (incOf(v) + dang / nD)
      }
      ran += 1
      if (tol > 0.0 && ran < iters) {
        val delta = qsumLocal((0 until nn).map(v => math.abs(next(v) - ranks(v))))
        converged = delta < tol
      }
      ranks = next
    }
    val schema = StructType(Seq(nodes.schema.fields(0).copy(name = "node"),
      StructField("rank", DoubleType, nullable = true)))
    val rows = new java.util.ArrayList[Row](nn)
    (0 until nn).foreach(v => rows.add(Row(nodeVals(v), ranks(v))))
    (spark.createDataFrame(rows, schema), ran)
  }

  // ---------------------------------------------- graph primitives (r13)

  /** Connected components over an undirected edge list — the public
    * graph face of the min-label propagation core the dedup family
    * already runs ([[Dedup.clusterReps]]: per-round neighbor-min +
    * pointer jumping for O(log diameter) convergence, eager
    * localCheckpoint lineage cuts, and a measured driver union-find
    * fast path under the edge cap). Returns (idCol, component) for
    * EVERY node in `nodes` — isolated nodes label themselves;
    * `component` is the component's minimum node id, so labels are
    * deterministic and engine-portable.
    *
    * `edges` carries two node columns (any names, first = one endpoint,
    * second = the other); direction is ignored.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          idCol: String = "node"): DataFrame = {
    val Array(ea, eb) = edges.columns.take(2)
    Dedup.clusterReps(nodes,
        edges.select(col(ea).as("id_a"), col(eb).as("id_b")), idCol)
      .withColumnRenamed("rep_id", "component")
  }

  /** Multi-source BFS hop distances over a DIRECTED edge list (src,
    * dst) — pass both directions for an undirected graph. Returns
    * (node, dist) for every node reachable within `maxDepth` hops of
    * any source (sources themselves at dist 0; unreachable nodes are
    * absent — callers outer-join if they want nulls).
    *
    * Scale shape: the classic frontier expansion — each round joins the
    * FRONTIER (new nodes only, never the visited set) against the edge
    * list and anti-joins the visited set. Only the per-round frontier is
    * checkpointed; the visited set stays a lazy union of those
    * checkpoints, so nothing accumulated re-materializes. Honest cost:
    * the edge list and the visited union are each SCANNED once per
    * round (rounds = min(eccentricity, maxDepth)) — O((E + V) × rounds)
    * reads, O(V) total writes; shuffle work tracks the frontier. The
    * driver loop reads one count per round, never the data.
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
                   maxDepth: Int = 30,
                   localEdgeCap: Long = LocalEdgeCap): DataFrame = {
    val Array(es, ed) = edges.columns.take(2)
    val sym = edges.select(col(es).as("src"), col(ed).as("dst"))
      .localCheckpoint(true)
    val srcCol = sources.columns.head
    val start = sources.select(col(srcCol).as("node")).distinct()
      .withColumn("dist", lit(0)).localCheckpoint(true)
    val nStart = start.count()
    // model-sized graph: frontier expansion on the driver (the
    // pageRankLocal precedent — sym/start are already checkpointed, so
    // the gate counts are cheap readbacks). Hop distances are INTEGER
    // functions of the graph: local ≡ distributed exactly, and each
    // round's join + anti-join + checkpoint + count collapses away.
    if (nStart > 0 && nStart <= LocalNodeCap && sym.count() <= localEdgeCap)
      return bfsLocal(sym, start, maxDepth)
    // each round's FRONTIER is checkpointed once; the visited set stays
    // a lazy union of those checkpoints — re-materializing the whole
    // accumulated set per round would cost O(V × rounds) checkpoint
    // writes on top of the O(E) joins (review catch r13)
    var frontiers = List(start)
    var visited = start
    var frontier = start
    var d = 0
    var grew = nStart > 0
    while (grew && d < maxDepth) {
      d += 1
      val next = frontier.join(sym, frontier("node") === sym("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(d))
        .localCheckpoint(true)
      grew = next.count() > 0
      if (grew) {
        frontiers ::= next
        visited = visited.unionByName(next)
      }
      frontier = next
    }
    frontiers.reduce(_.unionByName(_))
  }

  /** Per-node triangle counts over an undirected edge list — the local
    * clustering signal (spam/bot subgraphs are triangle-dense, random
    * ones are not). Input edges in any direction/duplication; self
    * loops drop. Returns (node, n_triangles) for every node with at
    * least one edge, zeros included.
    *
    * Scale shape: DEGREE-ORIENTED wedge counting (the compact-forward
    * algorithm; Latapy 2008): each edge points from its lower
    * (degree, id) endpoint to the higher, so every node's out-degree is
    * O(√m) on any graph and the wedge self-join is Σ out-deg² ≤ O(m^1.5)
    * — never the deg² blow-up of a hub node under the naive a<b<c
    * formulation. Each triangle materializes exactly once (at its
    * smallest-ordered apex), then credits all three corners through one
    * explode + count.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val Array(ea, eb) = edges.columns.take(2)
    val und = edges
      .select(least(col(ea), col(eb)).as("a"), greatest(col(ea), col(eb)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    // deg feeds BOTH withK joins and the final zero-fill — checkpoint so
    // the explode+aggregate runs once, not per consumer (the spanStats
    // discipline)
    val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // total order (deg, id): orientation key + wedge ordering share it
    val withK = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"),
        struct(col("da").as("d"), col("a").as("n")).as("ka"),
        struct(col("db").as("d"), col("b").as("n")).as("kb"))
    val oriented = withK
      .select(
        when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("u"),
        when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("v"),
        when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("kv"))
      .localCheckpoint(true)
    // wedges at each apex u over its (small, by construction) out-set;
    // the closing edge must itself be oriented low→high in the same
    // total order, so one semi-join shape closes every triangle once
    val wedges = oriented.alias("x").join(oriented.alias("y"), Seq("u"))
      .filter(col("x.kv") < col("y.kv"))
      .select(col("u").as("t0"), col("x.v").as("t1"), col("y.v").as("t2"))
    val tris = wedges.join(oriented.select(col("u").as("t1"), col("v").as("t2")),
      Seq("t1", "t2"), "left_semi")
    val counts = tris
      .select(explode(array(col("t0"), col("t1"), col("t2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.select(col("n").as("node"))
      .join(counts, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** k-core decomposition: iteratively peel nodes of degree < k until
    * every survivor has degree ≥ k within the survivors — the densest-
    * engagement skeleton of an interaction graph (bot rings and real
    * communities sit in deep cores; pendant chains and drive-by nodes
    * peel off). Returns (node, core_degree) for the k-core's nodes;
    * an empty frame when the whole graph peels away.
    *
    * Scale shape: each peel round is one degree aggregate over the
    * surviving edges plus two anti-joins — O(E) per round, and every
    * round already removes ALL currently-weak nodes at once (batch
    * peeling — the fewest synchronous rounds any exact peel can do).
    * Rounds are bounded by the peel DEPTH, which is small (≤ tens) on
    * real graphs but O(n) by construction on chain-like graphs: a
    * 1000-node path at k=2 loses only its two endpoints per round —
    * that is the true data dependency (node i cannot peel before the
    * chain reaches it), not an implementation artifact, so inputs of
    * that shape need `maxRounds` raised at the call site rather than a
    * different algorithm (r13 advice; rounds are cheap there — the
    * surviving edge set shrinks as the peel walks inward). Edges
    * checkpoint per round (lineage cut); the driver reads one
    * emptiness probe per round, never the data.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 100,
            localEdgeCap: Long = LocalEdgeCap): DataFrame = {
    require(k >= 1, "kCore needs k >= 1")
    val und = normalizeUndirected(edges)
    val out = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("core_degree"))
    // model-sized graph: peel on the driver (the pageRankLocal /
    // clusterRepsLocal precedent — und is already checkpointed, so the
    // gate count is a cheap readback). Core numbers and degrees are
    // INTEGER functions of the graph, so local ≡ distributed exactly;
    // the per-round budget counting replicates peelTo's.
    if (und.count() <= localEdgeCap) {
      val le = collectEdges(und)
      val peel = new LocalPeel(le)
      peel.peel(k, maxRounds, "kCore")
      return localNodeLongFrame(und.sparkSession, out.schema,
        le.vals.indices.iterator.filter(peel.deg(_) > 0)
          .map(i => (le.vals(i), peel.deg(i).toLong)))
    }
    val cur = peelTo(und, k, maxRounds, "kCore")._1
    cur.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("core_degree"))
  }

  /** Canonical undirected edge list: (a < b), self-loops dropped,
    * duplicates collapsed, checkpointed.
    */
  private def normalizeUndirected(edges: DataFrame): DataFrame = {
    val Array(ea, eb) = edges.columns.take(2)
    edges
      .select(least(col(ea), col(eb)).as("a"), greatest(col(ea), col(eb)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
  }

  /** Batch-peel `cur` to its stable k-core: every round removes ALL
    * nodes currently under degree k (the shared inner loop of [[kCore]]
    * and [[coreness]]). Returns (stable edge set, rounds used ≤ budget);
    * refuses loudly past the budget (see [[kCore]] on which graph
    * shapes legitimately need it raised).
    */
  private def peelTo(cur0: DataFrame, k: Int, budget: Int,
                     op: String): (DataFrame, Int) = {
    var cur = cur0
    var rounds = 0
    var done = false
    while (!done) {
      // the stability probe runs BEFORE any budget check: an
      // already-stable (or empty) core converges in zero rounds even at
      // budget 0 — [[coreness]] shares one budget across phases, and a
      // phase boundary landing exactly on exhaustion must not fail a
      // core that needs no further peeling (r14 advice)
      val deg = cur.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("c"))
      val weak = deg.filter(col("c") < k).select("n").localCheckpoint(true)
      if (weak.isEmpty) done = true
      else {
        require(rounds < budget,
          s"$op did not converge within $budget peel rounds " +
            "(pathological peeling depth — chain-like graphs peel O(n) " +
            "rounds by data dependency) — raise maxRounds")
        cur = cur
          .join(weak.select(col("n").as("a")), Seq("a"), "left_anti")
          .join(weak.select(col("n").as("b")), Seq("b"), "left_anti")
          .localCheckpoint(true)
        rounds += 1
      }
    }
    (cur, rounds)
  }

  // ---------------------- driver-local peel/BFS for model-sized graphs
  //
  // The pageRankLocal / Dedup.clusterRepsLocal pattern applied to the
  // remaining iterative graph reads: once the canonical edge list
  // MEASURES under [[LocalEdgeCap]] (the frame is checkpointed, so the
  // count is a cheap readback), the per-round join + checkpoint +
  // emptiness-probe chain — 2 actions plus several AQE stage jobs per
  // round, times peel depth × phases — collapses to in-memory folds.
  // Unlike PageRank there is no floating-point grid to replicate: core
  // numbers, core degrees and hop distances are INTEGER functions of
  // the graph, so any faithful peel/BFS is bit-identical by
  // construction; what the local code replicates exactly is the BATCH
  // peel semantics and peelTo's round-budget accounting (same refusal,
  // same message, same budget sharing across coreness phases). Above
  // the caps nothing changes — fully distributed, no driver collect.

  /** Collected canonical edge list: node values interned to indices. */
  private final case class LocalEdges(vals: Array[Any], ea: Array[Int],
                                      eb: Array[Int])

  private def collectEdges(und: DataFrame): LocalEdges = {
    val rows = und.collect() // bounded: caller gates on the edge cap
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
    def id(v: Any): Int =
      idx.getOrElseUpdate(v, { vals += v; vals.length - 1 })
    val m = rows.length
    val ea = new Array[Int](m)
    val eb = new Array[Int](m)
    var i = 0
    while (i < m) {
      ea(i) = id(rows(i).get(0)); eb(i) = id(rows(i).get(1)); i += 1
    }
    LocalEdges(vals.toArray, ea, eb)
  }

  /** Mutable batch-peel state over a collected edge list — [[peelTo]]
    * fold for fold: every round removes ALL nodes currently under
    * degree k, rounds count against the caller's budget with the same
    * refusal. CSR adjacency over incident edge ids; a both-endpoints-
    * weak edge dies once (the alive guard).
    */
  private final class LocalPeel(e: LocalEdges) {
    val n: Int = e.vals.length
    val deg: Array[Int] = new Array[Int](n)
    private val m = e.ea.length
    private val alive = Array.fill(m)(true)
    var aliveEdges: Int = m
    // CSR: offsets + incident edge ids per node
    private val off = new Array[Int](n + 1)
    private val inc = new Array[Int](2 * m)
    locally {
      var i = 0
      while (i < m) { deg(e.ea(i)) += 1; deg(e.eb(i)) += 1; i += 1 }
      var v = 0
      while (v < n) { off(v + 1) = off(v) + deg(v); v += 1 }
      val cursor = java.util.Arrays.copyOf(off, n)
      i = 0
      while (i < m) {
        inc(cursor(e.ea(i))) = i; cursor(e.ea(i)) += 1
        inc(cursor(e.eb(i))) = i; cursor(e.eb(i)) += 1
        i += 1
      }
    }
    /** Peel to the stable k-core; returns rounds used (≤ budget). */
    def peel(k: Int, budget: Int, op: String): Int = {
      var rounds = 0
      var done = false
      while (!done) {
        val weak = (0 until n).filter(v => deg(v) > 0 && deg(v) < k)
        if (weak.isEmpty) done = true
        else {
          require(rounds < budget,
            s"$op did not converge within $budget peel rounds " +
              "(pathological peeling depth — chain-like graphs peel O(n) " +
              "rounds by data dependency) — raise maxRounds")
          weak.foreach { v =>
            var j = off(v)
            while (j < off(v + 1)) {
              val eid = inc(j)
              if (alive(eid)) {
                alive(eid) = false
                aliveEdges -= 1
                deg(e.ea(eid)) -= 1
                deg(e.eb(eid)) -= 1
              }
              j += 1
            }
          }
          rounds += 1
        }
      }
      rounds
    }
  }

  /** The driver coreness loop: phase k peels to the (k+1)-core under the
    * SHARED round budget (exactly [[coreness]]' distributed accounting),
    * and the nodes whose last edge died during the phase label k.
    */
  private def corenessLocal(spark: org.apache.spark.sql.SparkSession,
                            schema: org.apache.spark.sql.types.StructType,
                            le: LocalEdges, maxRounds: Int): DataFrame = {
    val peel = new LocalPeel(le)
    val lbl = Array.fill(peel.n)(-1)
    var budget = maxRounds
    var k = 1
    var emptied = peel.aliveEdges == 0 // caller gates on nEdges > 0
    while (!emptied) {
      budget -= peel.peel(k + 1, budget, "coreness")
      var i = 0
      while (i < peel.n) {
        if (lbl(i) < 0 && peel.deg(i) == 0) lbl(i) = k
        i += 1
      }
      emptied = peel.aliveEdges == 0
      k += 1
    }
    localNodeLongFrame(spark, schema,
      le.vals.indices.iterator.map(i => (le.vals(i), lbl(i).toLong)))
  }

  /** The driver frontier expansion behind [[bfsDistances]]' fast path:
    * same rounds, same visited-set semantics, integer distances.
    */
  private def bfsLocal(sym: DataFrame, start: DataFrame,
                       maxDepth: Int): DataFrame = {
    import org.apache.spark.sql.Row
    val adj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    sym.collect().foreach { r => // bounded: caller gates on the edge cap
      adj.getOrElseUpdate(r.get(0),
        scala.collection.mutable.ArrayBuffer.empty[Any]) += r.get(1)
    }
    val dist = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    var frontier: Seq[Any] = start.collect().map(_.get(0)).toSeq
    frontier.foreach(v => dist(v) = 0)
    var d = 0
    while (frontier.nonEmpty && d < maxDepth) {
      d += 1
      val next = frontier.iterator
        .flatMap(v => adj.getOrElse(v, Nil))
        .filterNot(dist.contains).toSet.toSeq
      next.foreach(v => dist(v) = d)
      frontier = next
    }
    val rows = new java.util.ArrayList[Row](dist.size)
    dist.foreach { case (v, dd) => rows.add(Row(v, dd)) }
    sym.sparkSession.createDataFrame(rows, start.schema)
  }

  /** (node value, long) rows under the distributed tail's own lazy
    * schema — exact name/type parity without executing that tail.
    */
  private def localNodeLongFrame(spark: org.apache.spark.sql.SparkSession,
                                 schema: org.apache.spark.sql.types.StructType,
                                 out: Iterator[(Any, Long)]): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = new java.util.ArrayList[Row]()
    out.foreach { case (v, x) => rows.add(Row(v, x)) }
    spark.createDataFrame(rows, schema)
  }

  /** FULL coreness decomposition: the core NUMBER of every node with at
    * least one edge — max k such that the node survives the k-core peel
    * (coreness ≥ 1 by construction for any non-isolated node). The
    * number the one-k [[kCore]] query can't give: a per-node engagement
    * DEPTH usable as a ranking/quality signal rather than a single
    * in-or-out skeleton cut (r13 verdict #6).
    *
    * Scale shape: iterated [[kCore]] peel phases — phase k peels the
    * stable (k)-core down to the (k+1)-core and labels the difference
    * set with coreness k; phases stop when the core empties, so total
    * inner rounds = the graph's full peel depth (degeneracy-bounded,
    * the sum of the per-phase depths). Each round stays the O(E) degree
    * aggregate + anti-joins; phase boundaries cost one node-set
    * anti-join each. Labels are emitted per phase and unioned lazily —
    * every node is written exactly once.
    */
  def coreness(edges: DataFrame, maxRounds: Int = 1000,
               localEdgeCap: Long = LocalEdgeCap): DataFrame = {
    var cur = normalizeUndirected(edges)
    def nodesOf(e: DataFrame) =
      e.select(explode(array(col("a"), col("b"))).as("node")).distinct()
    // model-sized graph: the whole phase-peel decomposition runs on the
    // driver (the pageRankLocal precedent — cur is already checkpointed,
    // so the gate count doubles as the emptiness probe). Core numbers
    // are INTEGER functions of the graph, so local ≡ distributed
    // exactly; the shared round budget replicates peelTo's accounting.
    val nEdges = cur.count()
    if (nEdges > 0 && nEdges <= localEdgeCap)
      return corenessLocal(cur.sparkSession,
        nodesOf(cur).withColumn("coreness", lit(0L)).schema,
        collectEdges(cur), maxRounds)
    var remaining = nodesOf(cur).localCheckpoint(true)
    if (nEdges == 0L)
      return remaining.withColumn("coreness", lit(0L)) // both empty
    var out = List.empty[DataFrame]
    var k = 1
    var budget = maxRounds
    var emptied = false
    while (!emptied) {
      val (core, used) = peelTo(cur, k + 1, budget, "coreness")
      budget -= used
      val surviving = nodesOf(core).localCheckpoint(true)
      out ::= remaining.join(surviving, Seq("node"), "left_anti")
        .select(col("node"), lit(k.toLong).as("coreness"))
      cur = core
      remaining = surviving
      emptied = core.isEmpty
      k += 1
    }
    out.reduce(_.unionByName(_))
  }

  /** Co-neighbor Jaccard between RIGHT nodes of a bipartite edge list
    * (leftCol, rightCol) — "items whose user sets overlap": for every
    * right pair sharing ≥ 1 left node, |A∩B| / |A∪B| over their left
    * neighborhoods, thresholded. Returns (id_a, id_b, shared, jaccard),
    * id_a < id_b.
    *
    * Scale shape: the inverted-index discipline the n-gram Jaccard
    * dedup established — pairs generate per LEFT node, so a hub left
    * node (a user who touched everything) would explode the self-join
    * quadratically on one key; left nodes with more than
    * `maxLeftDegree` distinct right neighbors are dropped from pair
    * GENERATION by declared side-local semantics (neighborhood sizes
    * count over the same capped index, keeping the ratio internally
    * consistent — the df-cap rule).
    */
  def coNeighborJaccard(edges: DataFrame, leftCol: String, rightCol: String,
                        threshold: Double,
                        maxLeftDegree: Int = 1000): DataFrame = {
    val e = edges.select(col(leftCol).as("l"), col(rightCol).as("r"))
      .distinct().localCheckpoint(true)
    val hot = e.groupBy("l").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > maxLeftDegree).select("l")
    val kept = e.join(hot, Seq("l"), "left_anti").localCheckpoint(true)
    val sizes = kept.groupBy("r").agg(count(lit(1)).as("n_l"))
    val shared = kept.alias("x").join(kept.alias("y"), Seq("l"))
      .filter(col("x.r") < col("y.r"))
      .groupBy(col("x.r").as("id_a"), col("y.r").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("r").as("id_a"), col("n_l").as("na")), "id_a")
      .join(sizes.select(col("r").as("id_b"), col("n_l").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
