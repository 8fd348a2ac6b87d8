package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.{py_capitalize, py_title}
import graft.functions.FixedPointSum.qsum
import graft.operators.Validator

/** The reference's operator surface (SURVEY.md §2) re-expressed as
  * deterministic, oracle-checkable Spark queries over the harness's star
  * schema. Every query ends in an explicit ORDER BY on a unique key and
  * funnels floating-point aggregation through DECIMAL(38,4) so results are
  * bit-identical regardless of partitioning (double addition is not
  * associative; decimal addition is — this is what makes the engine's
  * results reproducible on a 1000-executor cluster, not just local[32]).
  *
  * The funnel has a per-value cost: Spark's `Cast(double → decimal)`
  * builds every value through `Double.toString` → `BigDecimal`, more than
  * half of q1's task time on the `olap_scan` benchmark.
  * `graft.plans.FastDecimalCast`, installed on every session
  * `GraftSession.builder` creates, rewrites those casts to an exact
  * compact-long fast path that falls back to Spark's `Cast` whenever it
  * cannot prove the same answer; the queries below keep their plain
  * `cast(DecimalType(38, s))` text.
  */
object ReferenceQueries {

  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  /** Exact distributed-deterministic sum of a 2-decimal double column. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(38, 4))).cast("double")

  // S2/S4 + P1/P2 — scan with projection; pruned at the parquet footer.
  def scanProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")

  // P3/P7 — predicates pushed to the scan (PushedFilters in explain).
  def filterPredicate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") >= 25 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber")

  // P5/P6/P8 — the validating-route operator on a typed table: first-failing
  // reason wins, same precedence mechanism as the reference CSV pipeline.
  def validateRoute(s: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      Validator.Rule(col("c_name").isNull || col("c_mktsegment").isNull,
        lit("Valor None en campo requerido")),
      Validator.Rule(col("c_acctbal") < 0, lit("Saldo < 0")))
    Validator.route(t(s, dir, "customer"), rules)
      .select(col("c_custkey"), col("motivo"), col("motivo").isNull.as("is_valid"))
      .orderBy("c_custkey")
  }

  // F1-F3 — trim/lower + exact Python capitalize (custom codegen expression).
  def normalizeCapitalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), py_capitalize(lower(trim(col("c_name")))).as("nombre"))
      .orderBy("c_custkey")

  // F4 — exact Python title-case (custom codegen expression).
  def normalizeTitle(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"), py_title(lower(trim(col("p_name")))).as("nombre"))
      .orderBy("p_partkey")

  // J1/§7.3 — dimension build with dense surrogate keys.
  def dimSurrogate(s: SparkSession, dir: String): DataFrame = {
    val distinctSeg = t(s, dir, "customer").select(col("c_mktsegment").as("nombre")).distinct()
    val w = Window.orderBy("nombre") // dimension-sized input: single window is fine
    distinctSeg
      .withColumn("dim_id", row_number().over(w).cast("long"))
      .select("dim_id", "nombre")
      .orderBy("dim_id")
  }

  // J2/A2/O2 — the reference's flagship readback: star join + group-agg
  // (reference scr/etl_relational.py:198-204 scaled up). Dimensions
  // broadcast; only the customer scan is large.
  def joinAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"), col("r_name"))
      .agg(
        count(lit(1)).as("total_customers"),
        (dsum(col("c_acctbal")) / count(lit(1))).as("avg_acctbal"))
      .orderBy(desc("total_customers"), col("n_name"))

  // J3 — filtered join; filter is pushed below the join by Catalyst.
  def filteredJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
      .orderBy("o_orderkey")

  // J4 — anti join (NOT EXISTS): customers that never ordered.
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  // K2 — the INSERT OR IGNORE write primitive as a query: rows of the
  // incoming batch that survive intra-batch dedup + anti-join vs existing.
  def idempotentAppendPlan(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val incoming = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val existing = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"))
    incoming.dropDuplicates(Seq("o_orderkey"))
      .join(existing, Seq("o_orderkey"), "left_anti")
      .orderBy("o_orderkey")
  }

  // A1 — scalar count.
  def scalarCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(count(lit(1)).as("n"))

  // A3/K5 — per-run audit metrics derived in one aggregate pass.
  def auditMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(
      count(lit(1)).as("input_count"),
      count(when(col("o_totalprice") >= 1000, 1)).as("valid_count"),
      count(when(col("o_totalprice") < 1000, 1)).as("rejected_count"),
      countDistinct(col("o_custkey")).as("distinct_customers"))

  // A4 — distinct.
  def distinctPairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus")).distinct()
      .orderBy("l_returnflag", "l_linestatus")

  // O1/O2 — global sort, descending with unique tie-break.
  def sortDesc(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .orderBy(desc("s_acctbal"), col("s_suppkey"))

  // K6 — schema migration: old rows widened with lineage defaults
  // (reference scr/etl_incremental_audit.py:144-145).
  def schemaMigration(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .withColumn("processed_at", lit("1970-01-01T00:00:00Z"))
      .withColumn("run_id", lit("MIGRATION"))
      .orderBy("n_nationkey")

  // Window — per-customer running order count and spend (beyond the
  // reference surface; exercises WindowExec with decimal running sums).
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("order_seq", row_number().over(w).cast("long"))
      .withColumn("running_spend",
        sum(col("o_totalprice").cast(DecimalType(38, 4)))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("order_seq"), col("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // Event-time tumbling window aggregate (batch form of the streaming path).
  def eventsWindowAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy("hour", "event_type")

  /** Ordered conversion funnel signup → click → purchase per user: each
    * step's earliest timestamp strictly after the previous step, nulls
    * cascading on drop-out, plus the completed-step count. One shuffle
    * by user, windowed conditional mins, no joins (see
    * [[graft.operators.Funnel]]); the oracle replays it as an
    * independent join-chain formulation.
    */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.funnelTimes(t(s, dir, "events"),
        "user_id", "event_type", "ts", Seq("signup", "click", "purchase"))
      .select(col("user_id"),
        unix_micros(col("t1")).as("t1_us"),
        unix_micros(col("t2")).as("t2_us"),
        unix_micros(col("t3")).as("t3_us"),
        (col("t1").isNotNull.cast("long") + col("t2").isNotNull.cast("long") +
          col("t3").isNotNull.cast("long")).as("n_steps"))
      .orderBy("user_id")

  /** Funnel dwell-time distribution: exact median/p90 microseconds spent
    * between consecutive funnel steps by users who advanced (see
    * [[graft.operators.Funnel.funnelDwell]]). The oracle replays the
    * join-chain funnel, derives the dwell rows by UNION ALL, and uses
    * quantile_cont — the same exact-percentile parity as a6_percentiles.
    */
  def eventsFunnelDwell(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.funnelDwell(t(s, dir, "events"),
        "user_id", "event_type", "ts", Seq("signup", "click", "purchase"))
      .orderBy("step")

  /** Cohort retention triangle: users cohorted by first-signup week,
    * each (cohort, weeks-since) cell counting distinct users active
    * that week. Activity reduces to distinct user-weeks BEFORE the
    * cohort join (see [[graft.operators.Funnel.cohortRetention]]).
    */
  def eventsRetention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.cohortRetention(t(s, dir, "events"),
        "user_id", "event_type", "ts", anchorType = "signup")
      .orderBy("cohort_week", "week_offset")

  /** First-order Markov transition matrix over the event stream: per-user
    * event sequences (ordered by ts, ties by event_id) reduced to a
    * (src, dst, n, p) edge list — bounded by |event-type vocabulary|²
    * regardless of corpus size (see [[graft.operators.Graph.transitions]]).
    * p is a single double division, bit-identical in any engine.
    */
  def eventsMarkov(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.transitions(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id")
      .select(col("src"), col("dst"), col("n"), round(col("p"), 6).as("p"))
      .orderBy("src", "dst")

  /** Weighted PageRank over the event-type transition graph — which event
    * types the behavioral flow concentrates on. The corpus-scale work is
    * the one windowed pass that extracts transitions; the 5 synchronous
    * iterations then run on the model-sized edge list (fully distributed,
    * no driver collect — see [[graft.operators.Graph.pageRank]]). The
    * oracle replays all 5 iterations as unrolled MATERIALIZED CTEs on the
    * same fixed-point qsum grid.
    */
  def eventsPageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.operators.Graph.transitions(t(s, dir, "events"),
      "user_id", "event_type", "ts", "event_id")
    graft.operators.Graph.pageRank(edges, "src", "dst", "n", iters = 5)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy("node")
  }

  // ------------------------------------------------ graph primitives (r13)

  /** The sparse bipartite purchase graph the graph-primitive queries
    * share: user node = 2·user_id, item node = 2·props.k + 1 (disjoint
    * id spaces in one long domain), one undirected edge per distinct
    * high-value (user, item) purchase pair. The value gate keeps the
    * graph sparse enough to carry non-trivial component structure; the
    * operators themselves take any edge list.
    */
  private def purchaseGraphEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type") === "purchase" && col("value") > 95)
      .select((col("user_id") * 2).as("src"),
        (get_json_object(col("props"), "$.k").cast("long") * 2 + 1).as("dst"))
      .distinct()

  /** Connected components of the purchase graph — one label per node,
    * min-node-id labeled ([[graft.operators.Graph.connectedComponents]]:
    * the dedup family's min-label propagation core as a public graph
    * face; log-diameter rounds, no driver collect above the measured
    * fast-path cap).
    */
  def graphComponents(s: SparkSession, dir: String): DataFrame = {
    val e = purchaseGraphEdges(s, dir).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    graft.operators.Graph.connectedComponents(nodes, e, "node")
      .orderBy("node")
  }

  /** BFS hop distances from the graph's minimum node over the purchase
    * graph (frontier expansion, one edges-join per level — never a
    * visited-set scan). Unreachable nodes are absent.
    */
  def graphBfs(s: SparkSession, dir: String): DataFrame = {
    val e = purchaseGraphEdges(s, dir).localCheckpoint(true)
    val sym = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    val source = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .agg(min(col("node")).as("node"))
    graft.operators.Graph.bfsDistances(sym, source)
      .orderBy("node")
  }

  /** [[graphComponents]] through the PERSISTED store lifecycle
    * ([[graft.operators.GraphStore]]): build the store from half the
    * purchase edges (deterministic hash split), append the other half —
    * committed components merge through the remap chain, no label row
    * rewrites — and read the resolved labeling: ≡ one-shot CC over all
    * edges, so the oracle is shared verbatim. The in-query ingest
    * REQUIREs admitted work (the dedup_span_incremental rule: a
    * silently-empty growth path can never pass green).
    */
  def graphComponentsIncremental(s: SparkSession, dir: String): DataFrame = {
    val e = purchaseGraphEdges(s, dir).localCheckpoint(true)
    val store = java.nio.file.Files
      .createTempDirectory("graft_q_graphstore").toString + "/store"
    val split = pmod(xxhash64(col("src"), col("dst")), lit(2))
    val (f1, _) = graft.operators.GraphStore.append(s, store,
      e.filter(split === 0), "node")
    val (f2, m2) = graft.operators.GraphStore.append(s, store,
      e.filter(split === 1), "node")
    require(f1 > 0 && f2 + m2 > 0,
      s"graph_components_incremental: empty growth path (first $f1, " +
        s"second $f2 fresh + $m2 merges) — the lifecycle under test did not run")
    graft.operators.GraphStore.labels(s, store).orderBy("node")
  }

  /** Coreness at READ time over the persisted store's complete edge log
    * ([[graft.operators.GraphStore.coreness]], r14 verdict #5) — the
    * store built by split appends (the `graph_components_incremental`
    * lifecycle) plus one REPLAYED batch, pinning that the duplicate
    * edges-only ingest cannot inflate core numbers (the log
    * distinct-collapses before peeling). ≡ the one-shot
    * [[graft.operators.Graph.coreness]] on the same edges, so the
    * oracle is `graph_coreness`'s verbatim (the persisted-twin
    * convention).
    */
  def graphCorenessIncremental(s: SparkSession, dir: String): DataFrame = {
    val e = purchaseGraphEdges(s, dir).localCheckpoint(true)
    val store = java.nio.file.Files
      .createTempDirectory("graft_q_corestore").toString + "/store"
    val split = pmod(xxhash64(col("src"), col("dst")), lit(2))
    graft.operators.GraphStore.append(s, store, e.filter(split === 0), "node")
    graft.operators.GraphStore.append(s, store, e.filter(split === 1), "node")
    graft.operators.GraphStore.append(s, store, e.filter(split === 1), "node")
    graft.operators.GraphStore.coreness(s, store).orderBy("node")
  }

  /** The co-purchase ITEM graph: items whose purchaser sets share ≥ 2
    * users (hub-capped inverted index), one undirected edge per
    * qualifying pair — the unipartite projection the triangle and
    * similarity queries run on.
    */
  private def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.coNeighborJaccard(
      t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item")),
      "user_id", "item", threshold = 0.0)

  /** The 2-core of the purchase graph ([[graft.operators.Graph.kCore]]):
    * peel pendant users/items until every survivor keeps ≥ 2 edges —
    * the engagement skeleton (drive-by purchases peel off in layers;
    * 5 peel rounds at sf0.01). Oracle = the peel unrolled as a CTE
    * chain (the Lloyd/Viterbi unroll convention — extra rounds are
    * no-ops once the core is stable, so a generous fixed unroll equals
    * the engine's fixpoint).
    */
  def graphKcore(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCore(purchaseGraphEdges(s, dir), k = 2)
      .orderBy("node")

  /** FULL coreness decomposition of the purchase graph
    * ([[graft.operators.Graph.coreness]]): every node's core NUMBER —
    * the engagement depth the single-k `graph_kcore` cut cannot give
    * (max coreness 2 at sf0.01, 4 at sf0.1). Oracle = the phase peel
    * unrolled as MATERIALIZED CTEs (thresholds 2..7 × 10 rounds each),
    * with per-phase convergence AND final-core-emptiness guards that
    * error() loudly if the data ever outgrows the unroll (the
    * graph_kcore guard discipline).
    */
  def graphCoreness(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.coreness(purchaseGraphEdges(s, dir))
      .orderBy("node")

  /** Per-item triangle counts over the co-purchase graph — the local
    * clustering signal, counted by degree-oriented wedges
    * ([[graft.operators.Graph.triangleCounts]]: Σ out-deg² ≤ O(m^1.5),
    * no hub blow-up).
    */
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleCounts(
        coPurchasePairs(s, dir).filter(col("shared") >= 2)
          .select("id_a", "id_b"))
      .orderBy("node")

  /** Item-item co-purchase similarity — "users who bought A also bought
    * B": co-neighbor Jaccard over purchaser sets at τ = 0.2
    * ([[graft.operators.Graph.coNeighborJaccard]] — the n-gram-Jaccard
    * inverted-index discipline on a bipartite graph).
    */
  def graphItemSim(s: SparkSession, dir: String): DataFrame =
    coPurchasePairs(s, dir).filter(col("jaccard") >= 0.2)
      .orderBy("id_a", "id_b")

  /** Per-type equi-width histogram of event values: 10 bins over the
    * observed [min, max] per event type — one corpus pass for the bounds
    * (partial-agg'd), a broadcast join back, a map-side bin expression,
    * and a grouped count on (type, bin) ≤ 10·|types| rows. Degenerate
    * types (hi = lo) land wholly in bin 0 by declared semantics; values
    * exactly at hi clamp into the last bin.
    */
  def eventsHistogram(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val stats = ev.groupBy("event_type")
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0.0))
          .otherwise(least(
            floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / 10.0)),
            lit(9.0)))
          .cast("long"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bin")
  }

  /** RFM segmentation — the classic customer-analytics triple per user:
    * Recency (days since last purchase, back from the corpus max ts),
    * Frequency (purchase count), Monetary (fixed-point purchase value
    * sum), each quintile-scored 1–5 against the exact 20/40/60/80th
    * percentiles of the per-user table (recency inverted: most recent =
    * 5). The percentile boundaries are a 1-row bounded collect (the
    * ev_decay anchor precedent), so scoring is map-only literals; the
    * per-user table itself is one filtered aggregate over the corpus.
    *
    * `exact = false` swaps the boundary computation onto the GK sketch
    * (`approx_percentile`, the a6 anchor/scale split) — same plan shape,
    * O(accuracy) memory per boundary; PercentileSpec pins sketch scores
    * against the exact anchor. The oracled query keeps exact boundaries.
    */
  def eventsRfm(s: SparkSession, dir: String): DataFrame =
    eventsRfmWith(s, dir, exact = true)

  private[graft] def eventsRfmWith(s: SparkSession, dir: String, exact: Boolean,
                                   accuracy: Int = 10000): DataFrame = {
    val ev = t(s, dir, "events")
    // empty events table: max(ts) is NULL — anchor at 0 (output is empty
    // either way; the guard only keeps the bounded collect from NPEing)
    val amax = Option(ev.agg(max(unix_micros(col("ts")))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val perUser = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        floor((lit(amax) - max(unix_micros(col("ts")))) / lit(8.64e10)).as("r_days"),
        count(lit(1)).as("f"),
        round(qsum(col("value")), 6).as("m"))
      .localCheckpoint(true)
    val quintiles = array(Seq(0.2, 0.4, 0.6, 0.8).map(lit): _*)
    def bounds(c: Column): Column =
      if (exact) percentile(c, quintiles)
      else percentile_approx(c, quintiles, lit(accuracy)).cast("array<double>")
    val b = perUser.agg(
      bounds(col("r_days").cast("double")).as("rq"),
      bounds(col("f").cast("double")).as("fq"),
      bounds(col("m")).as("mq")).head()
    // zero purchasers: percentiles come back null — any literal boundary
    // works because perUser (and so the output) is empty either way, but
    // getSeq would NPE at plan-construction time without the fallback
    def qs(i: Int): Seq[Double] =
      if (b.isNullAt(i)) Seq(0.0, 0.0, 0.0, 0.0) else b.getSeq[Double](i)
    def bucket(c: Column, bs: Seq[Double]): Column =
      bs.foldLeft(lit(1)) { (acc, q) => acc + (c > lit(q)).cast("int") }
    perUser.select(col("user_id"), col("r_days"), col("f"), col("m"),
        (lit(6) - bucket(col("r_days").cast("double"), qs(0))).as("r_score"),
        bucket(col("f").cast("double"), qs(1)).as("f_score"),
        bucket(col("m"), qs(2)).as("m_score"))
      .orderBy("user_id")
  }

  /** Top-10 most-frequent 3-step behavioral paths (event-type trigrams
    * per user sequence) — the path-analysis query behind "what do users
    * actually do". Same one-entity-shuffle shape as the Markov extractor
    * (two leads over one window), the path table is bounded by |types|³,
    * and the top-10 is a bounded-heap TakeOrderedAndProject, never a
    * global sort. Ties break on the path string in both engines.
    */
  def eventsTopPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws("->", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** Recency-weighted engagement score per user: Σ value · 1/(1+age_days),
    * age measured back from the corpus max timestamp. Hyperbolic decay
    * instead of exponential is a deliberate engine choice — exp/log are
    * libm calls that are NOT bit-identical across engines, while the
    * rational decay is pure IEEE (subtract, divide, floor). One corpus
    * pass; the anchor is a single driver scalar (bounded by construction:
    * one row), replayed as a scalar subquery in the oracle; sums ride the
    * fixed-point qsum grid.
    */
  def eventsDecay(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // empty-table guard: max(ts) is NULL with zero rows (see eventsRfm)
    val amax = Option(ev.agg(max(unix_micros(col("ts")))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    ev.select(col("user_id"), col("value"),
        floor((lit(amax) - unix_micros(col("ts"))) / lit(8.64e10)).as("age_days"))
      .groupBy("user_id")
      .agg(round(qsum(col("value") / (lit(1.0) + col("age_days"))), 6).as("score"))
      .orderBy("user_id")
  }

  /** Salted equi-join made driver-visible: lineitem ⋈ supplier through
    * [[graft.operators.Skew.saltedEquiJoin]] (8 deterministic salt
    * buckets — the hot-key mitigation when AQE's runtime skew split
    * can't help, e.g. a single key that swamps one task), then the same
    * grouped aggregate a plain join would produce. The oracle is the
    * UNSALTED join — identical semantics is the whole point.
    */
  def saltedJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select("l_suppkey", "l_quantity")
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.operators.Skew.saltedEquiJoin(li, sup, "l_suppkey", buckets = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("s_nationkey")
  }

  /** Robust MAD outlier detection on event values, per event type — the
    * data-quality gate over a metric with a genuine heavy tail (see
    * [[graft.operators.Outliers.madOutliers]]). Exact percentiles carry
    * the a6 quantile_cont parity; everything else is per-row IEEE math.
    */
  def eventsOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Outliers.madOutliers(t(s, dir, "events"),
        "event_type", "event_id", "value", threshold = 3.5)
      .select(col("event_type"), col("event_id"), col("value"),
        round(col("z"), 6).as("z"))
      .orderBy("event_type", "event_id")

  /** Event-RATE anomaly detection — the "alert on traffic spikes"
    * composition: events bucket into per-(type, hour) counts (one
    * partial-aggregatable pass), then the robust MAD gate
    * ([[graft.operators.Outliers.madOutliers]]) flags hours whose
    * volume is an outlier WITHIN ITS TYPE. Same quantile_cont parity
    * and per-row IEEE z as ev_outliers; the outlier input is the
    * bucket table (|types|·|hours| rows), never the raw corpus.
    */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val buckets = ev
      .select(col("event_type"),
        floor(unix_micros(col("ts")) / lit(3.6e9)).cast("long").as("hour"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("n"))
    graft.operators.Outliers.madOutliers(buckets, "event_type", "hour", "n",
        threshold = 3.5)
      .select(col("event_type"), col("hour"), col("n"),
        round(col("z"), 6).as("z"))
      .orderBy("event_type", "hour")
  }

  /** As-of join: each click enriched with the user's most recent prior
    * view (event-time lookup). Oracled against DuckDB's native ASOF LEFT
    * JOIN — an independent implementation of the same semantics.
    */
  def eventsAsOf(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    // views deduped per (user, µs-truncated ts) keeping max(value): two
    // views inside one microsecond would otherwise be an engine-arbitrary
    // pick on both sides (zero such collisions in current fixtures — this
    // makes the query fixture-independent, same aggregation in the oracle)
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max("value").as("value"))
    graft.operators.AsOfJoin.asOf(clicks, views, Seq("user_id"), "ts", "ts",
        Seq("value"), prefix = "view_")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(col("view_ts")).as("view_ts_us"),
        col("view_value"))
      .orderBy("event_id")
  }

  /** Top-k rows per group through the custom TopKPerKey physical operator
    * (partial/final bounded heaps — shuffles ≤k rows per key instead of
    * window-sorting every row; see plans/TopKPerKey).
    */
  def topKPerGroup(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perKey(
        t(s, dir, "lineitem")
          .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        keys = Seq(col("l_returnflag")),
        orderBy = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc),
        k = 3)
      .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
        col("l_orderkey"), col("l_linenumber"))

  /** Time-series resample: 6-hour buckets per user, gaps filled with the
    * forward-carried latest value (see operators/Resample.scala for the
    * scale shape — per-key grids, per-key windows, no global calendar).
    */
  def eventsResample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Resample.ffill(t(s, dir, "events"), "user_id", "ts", "value",
        tieCol = "event_id", intervalSec = 21600L)
      .orderBy("user_id", "bucket")

  // JSON extraction from the events.props payload column.
  def eventsJsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k")

  // S1 — in-memory literal scan (the reference's hard-coded row batches,
  // scr/etl_basic.py:6-11) run through the same normalization surface.
  def literalScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Seq(("  walter ", "26", "SAN LUCAS"), ("RAMONA", "52", "san lucas"),
      ("luz", "30", " valle alto")).toDF("nombre", "edad", "ciudad")
    rows.select(
        py_capitalize(lower(trim(col("nombre")))).as("nombre"),
        trim(col("edad")).try_cast("int").as("edad"),
        py_title(lower(trim(col("ciudad")))).as("ciudad"))
      .orderBy("nombre")
  }

  // F9 — character-class sanitize (run-id filename cleaning,
  // reference scr/etl_batch.py:27).
  def sanitize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "[^\\p{Alnum}]", "_").as("safe_name"))
      .orderBy("c_custkey")

  // F5 — cast-validity surface: try_cast yields null on malformed input
  // (the reject trigger of P6).
  def tryCastValidity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        concat(col("o_orderkey").cast("string"),
          when(col("o_orderstatus") === "O", lit("")).otherwise(lit("x"))).as("raw"))
      .select(col("o_orderkey"), col("raw"),
        col("raw").try_cast("int").as("parsed"),
        col("raw").try_cast("int").isNull.as("is_reject"))
      .orderBy("o_orderkey")

  // Set operations (beyond the reference surface): UNION DISTINCT + EXCEPT.
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val fromSeg = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val fromOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k"))
    fromSeg.union(fromOrders).distinct().except(urgent).orderBy("k")
  }

  // Rollup (grouping-sets family, beyond the reference surface).
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  // Cube: all 2^d grouping sets in one pass (Expand + single aggregate).
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  // Explicit GROUPING SETS — arbitrary set lists beyond rollup/cube's
  // fixed families, still ONE Expand + one aggregate pass (never a union
  // of re-scans). Sets here: (flag, status), (status), () — a selection
  // no rollup or cube produces.
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  // TPC-H Q1-style pricing summary: the headline heavy aggregation.
  // Derived measures are exact: 2dp x 2dp products have <= 4dp (6dp with
  // tax), so the decimal casts lose nothing and sums are order-independent.
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge = disc * (lit(1) + col("l_tax"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(disc.cast(DecimalType(38, 4))).cast("double").as("sum_disc_price"),
        sum(charge.cast(DecimalType(38, 6))).cast("double").as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // TPC-H Q3-style shipping priority: 3-way join + global top-10 revenue
  // (planned as TakeOrderedAndProject — no full sort).
  /** TPC-H Q5-style local-supplier revenue: the 6-table join shape. The
    * region→nation→supplier chain broadcasts (dims), lineitem⋈orders⋈
    * customer shuffle on their keys with partial aggregation — the plan
    * that holds at 100 TB (fact tables never broadcast, dims never
    * shuffle).
    */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val asia = t(s, dir, "region").filter(col("r_name") === "ASIA")
      .select("r_regionkey")
    val nat = t(s, dir, "nation")
      .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = t(s, dir, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(38, 4)).as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey")
        && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** TPC-H Q6-style forecast revenue: the pure scan-filter-agg shape. All
    * three predicates reach the parquet scan (PushedFilters — row groups
    * outside the shipdate year never leave storage); the revenue product
    * is 2dp×2dp → exact at Decimal(38,4), so the single-row sum is
    * partition-order independent.
    */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount")).cast(DecimalType(38, 4)))
        .cast("double").as("revenue"))

  /** TPC-H Q18-style large-volume customers: the high-cardinality
    * aggregation shape — lineitem rolls up per ORDER (≈ one group per 4
    * rows; partial+final HashAggregate carries it). The >threshold
    * survivor set is tiny at ANY scale (it's the point of the filter), so
    * it is explicitly broadcast into both joins — without the hint,
    * Catalyst's post-aggregate size estimate makes it broadcast the
    * ORDERS fact table instead, a plan that dies at 100 TB. The global
    * top-100 plans as TakeOrderedAndProject (no full sort).
    */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    broadcast(t(s, dir, "orders")
        .join(broadcast(bigOrders), col("o_orderkey") === col("l_orderkey")))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("odate").asc,
        col("o_orderkey").asc)
      .limit(100)
  }

  /** TPC-H Q10-style returned-item reporting: which customers returned
    * the most revenue in a quarter. The classic fact⋈fact⋈dim top-N: the
    * returnflag and orderdate filters reach both fact scans BEFORE the
    * joins (PushedFilters), nation broadcasts, the two facts shuffle on
    * the join key once, and the global top-20 plans as
    * TakeOrderedAndProject — no full sort of the aggregate output.
    */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast(DecimalType(38, 4))
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14-style promotion-revenue ratio: one conditional aggregate
    * over the filtered fact with the part dimension BROADCAST — the
    * month filter prunes the lineitem scan, and both sums come out of a
    * single partial+final HashAggregate pass (no second scan for the
    * denominator).
    */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast(DecimalType(38, 4))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-03-01").cast("timestamp"))
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(DecimalType(38, 4))))
          .cast("double") /
        sum(rev).cast("double")).as("promo_revenue"))
  }

  /** TPC-H Q19-style discounted revenue: a DISJUNCTIVE join predicate
    * (brand/size/quantity triples OR-ed together). The join key stays the
    * plain equi-join on partkey — the OR block is a post-join filter, so
    * the plan remains a broadcast hash join (an OR-of-ANDs folded into
    * the join condition would force nested-loop); quantity bounds that
    * appear in every branch are pushed to the lineitem scan.
    */
  def q19DiscountedRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast(DecimalType(38, 4))
    val branches =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    t(s, dir, "lineitem")
      .filter(col("l_quantity").between(1, 30)) // hull of every branch — scan-pushed
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .filter(branches)
      .agg(sum(rev).cast("double").as("revenue"))
  }

  /** Z-order (Morton) clustering code over (l_partkey, l_suppkey) — the
    * multi-column data-skipping sort key (operators.ZOrder lays tables
    * out by it; ZOrderSpec shows the pruning). The oracled form uses
    * modular 16-bit coordinates so the SQL carries no data-dependent
    * shift constants; the interleave itself — the nontrivial arithmetic —
    * is pinned bit-for-bit. Map-only codegen projection.
    */
  def zorderCode(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        graft.functions.interleave_bits(
          pmod(col("l_partkey"), lit(65536)).cast("long"),
          pmod(col("l_suppkey"), lit(65536)).cast("long"), 16).as("zcode"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  /** TPC-H Q4-style order-priority check: the EXISTS → LEFT SEMI join
    * shape. The probe side is projected to ONE column before the join and
    * never deduplicated — a hash semi-join stops at the first build match,
    * so no `distinct` (an extra shuffle+agg) is ever needed. Fact⋈fact on
    * l_orderkey shuffles both sides on the join key; the orderdate filter
    * is pushed to the orders scan. Cf. reference filter+join routing
    * (`scr/etl_batch.py:60-75`) lifted to the relational EXISTS form.
    */
  def q4PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-07-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val probe = t(s, dir, "lineitem")
      .filter(col("l_discount") >= 0.06)
      .select(col("l_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .join(probe, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q17-style small-quantity revenue: the correlated aggregate
    * subquery shape (`l_quantity < 0.2 * avg(l_quantity) per part`),
    * decorrelated as aggregate-then-join — the only plan that scales
    * (per-row subquery execution would rescan lineitem per part). The
    * brand filter broadcasts into the fact scan first so both the avg and
    * the final sum touch only that brand's lineitems; the per-part avg is
    * itself tiny (≤ parts of one brand) and broadcasts back. Avg is
    * decimal-funneled so the 0.2·avg threshold is bit-identical under any
    * partitioning.
    */
  def q17SmallQuantity(s: SparkSession, dir: String): DataFrame = {
    val brandParts = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#23").select("p_partkey")
    val li = t(s, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
    val avgQ = li.groupBy(col("p_partkey").as("ak"))
      .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(broadcast(avgQ), col("p_partkey") === col("ak"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(38, 4)).as("rev"))
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
  }

  // Full outer join (engine completeness beyond the reference's inner/anti).
  def outerJoin(s: SparkSession, dir: String): DataFrame = {
    val custOrders = t(s, dir, "orders").groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("n_orders"))
    val bigCust = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("k"), col("c_name"))
    bigCust.join(custOrders, Seq("k"), "full_outer")
      .filter(col("c_name").isNotNull || col("n_orders") >= 25)
      .orderBy("k")
  }

  // Window variety: lag/lead/rank/dense_rank/ntile over per-customer orders.
  def windowVariety(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        rank().over(Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority"), col("o_orderkey")))
          .cast("long").as("prio_rank"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // Percentiles / median (linear interpolation in both engines). Exact:
  // buffers every value per group in the agg buffer — the ORACLE ANCHOR,
  // not the scale path (see percentilesApprox).
  def percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
        // ONE buffer for both price percentiles (r15): the array form
        // fills a single per-group value map where two scalar percentile
        // calls each buffered the full column — identical counts map,
        // identical interpolation, half the aggregate state
        expr("percentile(l_extendedprice, array(0.9, 0.99))").as("pp"))
      .select(col("l_returnflag"), col("p50_qty"),
        round(element_at(col("pp"), 1), 6).as("p90_price"),
        round(element_at(col("pp"), 2), 6).as("p99_price"))
      .orderBy("l_returnflag")

  /** A6 scale path: Greenwald-Khanna sketch percentiles — O(accuracy)
    * memory per group instead of buffering every value (the exact
    * `percentile` OOMs at 100x group size). Partial/final mergeable, so
    * map-side combine applies. Rows-only driver check (sketch outputs are
    * algorithm-specific); PercentileSpec asserts each value within rank
    * tolerance of the exact anchor.
    */
  def percentilesApprox(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 10000)").as("p50_qty"),
        expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("p90_price"),
        expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("p99_price"))
      .orderBy("l_returnflag")

  /** A9 scale path: HyperLogLog distinct counts — fixed sketch memory per
    * group instead of a distinct-shuffle over every value, mergeable
    * partial/final (map-side combine). Uses the DataSketches
    * `hll_sketch_agg` (lgConfigK = 14 ≈ 0.8% RSE) rather than
    * `approx_count_distinct(rsd = 0.01)`: the legacy HLL++ at that
    * precision declares 2^14 registers as ~1.6k Long buffer FIELDS per
    * aggregate, and the generated aggregate code for thousands of fields
    * costs seconds of janino compilation PER QUERY — a fixed cost that
    * scales with precision, not data (measured: 2.2 s at rsd 0.01, 7.3 s
    * at 0.005, flat from sf0.001 to sf0.1). The sketch aggregate keeps
    * one binary buffer per group (ObjectHashAggregate), planning cost is
    * constant, and the sketch itself is the industry-standard mergeable
    * artifact a warehouse would persist. Rows-only driver check (sketch
    * estimates are algorithm-specific); PercentileSpec pins each estimate
    * within 2% of the exact count. The exact `a4_distinct` family remains
    * the oracle anchor.
    */
  def distinctApprox(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("hll_sketch_estimate(hll_sketch_agg(l_partkey, 14))").as("nd_part"),
        expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey, 14))").as("nd_order"))
      .orderBy("l_returnflag")

  /** A7 — second-moment statistics (variance / stddev / covariance /
    * correlation) via one-pass decimal power sums: Σx, Σx², Σy, Σy², Σxy
    * are exact decimal aggregates (partial+final, map-side combinable),
    * and the moments are closed-form arithmetic over those five scalars.
    * Spark's built-in `stddev`/`corr` use a merge-formula whose float
    * result depends on partition merge order; the power-sum funnel is
    * bit-identical under any partitioning AND engine-portable (every
    * derived op is IEEE-exact: ÷, ×, −, sqrt), which is what lets this
    * carry a hash-matched oracle. Products of 2-decimal inputs stay well
    * inside a double's 53-bit mantissa, so the decimal casts are
    * deterministic.
    */
  def moments(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    def dsum6(c: Column) = sum(c.cast(DecimalType(38, 6))).cast("double")
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        dsum6(x).as("sx"), dsum6(x * x).as("sxx"),
        dsum6(y).as("sy"), dsum6(y * y).as("syy"),
        dsum6(x * y).as("sxy"))
      .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        round(col("sx") / col("n"), 6).as("mean_qty"),
        round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 6)
          .as("var_qty"),
        round(sqrt((col("syy") - col("sy") * col("sy") / col("n")) / (col("n") - 1)), 6)
          .as("sd_price"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 6)
          .as("covar_qty_price"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
               (col("syy") - col("sy") * col("sy") / col("n"))), 6)
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** Equi-less interval join through the bucketized band-join operator:
    * clicks within the 60 s after each error, zero-counts included. No
    * user_id equi-key on purpose — this is the join class Spark would
    * otherwise plan as a nested loop (see operators/RangeJoin.scala; the
    * oracle states the same query as a plain theta join, which DuckDB can
    * afford at test scale).
    */
  def eventsRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error").select("event_id", "ts")
    val clicks = ev.filter(col("event_type") === "click").select("ts")
    graft.operators.RangeJoin.countInBand(errors, clicks, "event_id",
        col("ts"), col("ts"), loUs = 0L, hiUs = 60L * 1000000L)
      .withColumnRenamed("n_in_band", "n_clicks_60s")
      .orderBy("event_id")
  }

  /** A8 — pivot (cross-tab): quantity by return flag × line status. The
    * pivot values are enumerated, so the plan is a single partial+final
    * aggregate with one conditional decimal sum per cell — no extra
    * shuffle over the plain groupBy, and decimal funneling keeps cells
    * deterministic (the oracle states it as CASE-filtered sums).
    */
  def pivotTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity").cast(DecimalType(38, 4))).cast("double"))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
      .orderBy("l_returnflag")

  // String-function breadth: concat_ws, lpad, replace, substring, length.
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .select(col("s_suppkey"),
        concat_ws("|", col("s_name"), col("s_nationkey")).as("tagged"),
        lpad(col("s_suppkey").cast("string"), 8, "0").as("padded"),
        regexp_replace(col("s_name"), "Supplier", "SUP").as("renamed"),
        substring(col("s_name"), 1, 8).as("prefix"),
        length(col("s_name")).cast("long").as("name_len"))
      .orderBy("s_suppkey")

  // Null-handling surface: coalesce / nullif / nvl2-style branching.
  def nullHandling(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("DEFAULT")).as("seg_defaulted"),
        when(col("c_acctbal") < 0, lit(null).cast("double")).otherwise(col("c_acctbal"))
          .as("pos_bal"))
      .orderBy("c_custkey")

  // SQL surface (§3.3): the engine accepts SQL text, including graft's
  // registered native functions — full Catalyst parse/analyze/optimize.
  def sqlReadback(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    t(s, dir, "nation").createOrReplaceTempView("nation_v")
    s.sql(
      """SELECT n_name,
                count(*) AS total_customers,
                py_capitalize(lower(min(c_name))) AS first_name_norm
         FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
         GROUP BY n_name
         ORDER BY total_customers DESC, n_name""")
  }

  // Sessionization: a session break is a >30 min gap per user.
  def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .groupBy("user_id")
      .agg(
        count(when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 1800L * 1000000L, 1))
          .as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Unrolled-iteration PageRank replay over the event-type transition
    * graph — the same technique as the k-means / PQ oracle chains: every
    * cross-row sum goes through the fixed-point qsum grid (floor ×1e12 →
    * exact DECIMAL(38,0) sum → double), per-row double ops are IEEE-
    * identical, and each iteration is a MATERIALIZED CTE so DuckDB never
    * re-evaluates the chain prefix. Literals are written as the SAME
    * double expressions Spark computes (`(1.0 - 0.85)`, not `0.15` —
    * 1.0-0.85 is 0.15000000000000002 in IEEE 754, and graft computes it
    * that way too).
    */
  private[graft] def evPageRankSql(iters: Int = 5): String = {
    def qsumRaw(term: String) =
      s"CAST(sum(CAST(floor(least(greatest($term, -1.0e6), 1.0e6) * 1.0e12) " +
        s"AS DECIMAL(38,0))) AS DOUBLE) / 1.0e12"
    def qsum(term: String, alias: String) = s"${qsumRaw(term)} AS $alias"
    val sb = new StringBuilder
    sb.append("""WITH seq AS MATERIALIZED (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM events),
      edges AS MATERIALIZED (
        SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM seq
        WHERE dst IS NOT NULL GROUP BY src, dst),
      outw AS (SELECT src, CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS out_w
               FROM edges GROUP BY src),
      pe AS MATERIALIZED (SELECT e.src, e.dst, e.w / o.out_w AS p
                          FROM edges e JOIN outw o USING (src)),
      nodes AS MATERIALIZED (SELECT DISTINCT node FROM
        (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM nodes),
      r0 AS MATERIALIZED (SELECT node, 1.0 / nd AS rank FROM nodes, nn),""")
    for (t <- 1 to iters) {
      sb.append(s"""
      i$t AS (SELECT pe.dst, ${qsum("r.rank * pe.p", "inc")}
              FROM pe JOIN r${t - 1} r ON pe.src = r.node GROUP BY pe.dst),
      dg$t AS (SELECT coalesce(${qsumRaw("r.rank")}, 0.0) AS dang FROM r${t - 1} r
               WHERE NOT EXISTS (SELECT 1 FROM pe WHERE pe.src = r.node)),
      r$t AS MATERIALIZED (
        SELECT n.node,
               (1.0 - 0.85) / nn.nd + 0.85 * (coalesce(i.inc, 0.0) + d.dang / nn.nd) AS rank
        FROM nodes n LEFT JOIN i$t i ON n.node = i.dst, dg$t d, nn),""")
    }
    sb.setLength(sb.length - 1) // drop trailing comma
    sb.append(s"\n      SELECT node, round(rank, 6) AS rank FROM r$iters ORDER BY node")
    sb.toString
  }

  /** DuckDB oracle SQL per query — same table names, same aliases, same
    * ORDER BY, same decimal funneling.
    */
  /** The graph oracles' shared sparse bipartite purchase graph — the SQL
    * twin of [[purchaseGraphEdges]] (defs, not vals: referenced from the
    * map literal below, and an object-init forward val reference would
    * read null).
    */
  private def graphEdgeCtes: String =
    """WITH RECURSIVE pe AS (
         SELECT DISTINCT user_id * 2 AS src,
                CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 + 1 AS dst
         FROM events WHERE event_type = 'purchase' AND value > 95),
       ed AS (SELECT src, dst FROM pe UNION ALL SELECT dst, src FROM pe),
       nodes AS (SELECT DISTINCT src AS node FROM ed)"""

  /** The co-purchase projection's shared CTEs — the SQL twin of
    * [[coPurchasePairs]] (hub cap 1000, sizes over the capped index —
    * the df-cap side-local rule).
    */
  private def coPurchaseCtes: String =
    """WITH pu AS (
         SELECT DISTINCT user_id AS l,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS r
         FROM events WHERE event_type = 'purchase'),
       hot AS (SELECT l FROM pu GROUP BY l HAVING count(*) > 1000),
       kept AS (SELECT pu.* FROM pu WHERE pu.l NOT IN (SELECT l FROM hot)),
       sizes AS (SELECT r, count(*) AS n_l FROM kept GROUP BY r),
       pr AS (SELECT x.r AS id_a, y.r AS id_b, count(*) AS shared
              FROM kept x JOIN kept y ON x.l = y.l AND x.r < y.r
              GROUP BY x.r, y.r)"""

  /** Min-label connected components as full reachability (every node
    * adopts the minimum label that can reach it) — shared by the
    * one-shot and persisted-store queries.
    */
  private def graphComponentsSql: String = graphEdgeCtes + """,
         r(node, lbl) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e.dst, r.lbl FROM r JOIN ed e ON e.src = r.node)
         SELECT node, min(lbl) AS component FROM r GROUP BY node
         ORDER BY node"""

  /** The k=2 peel unrolled: 12 rounds (measured fixpoint is 5 at
    * sf0.01, 1 at sf0.1; extra rounds are no-ops on a stable core).
    * GUARDED (r13 advice): a dataset whose peel depth exceeds the
    * unroll would silently leave a supergraph of the true core — the
    * final select asserts the last two rounds are identical and calls
    * DuckDB's error() otherwise, so a deeper peel fails LOUDLY at the
    * oracle instead of red-flagging the engine.
    */
  private def graphKcoreSql: String = {
    val rounds = 12
    // MATERIALIZED is load-bearing: each ei references e(i-1) several
    // times (degree union + weak-set subqueries), and inlined CTEs
    // would expand the base scan ~3^12-fold — DuckDB runs out of file
    // handles before it runs out of patience
    val peels = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT n, count(*) AS c FROM (
             SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
           GROUP BY n),
         w$i AS MATERIALIZED (SELECT n FROM d$i WHERE c < 2),
         e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
                 WHERE e.a NOT IN (SELECT n FROM w$i)
                   AND e.b NOT IN (SELECT n FROM w$i))"""
    }.mkString(",\n")
    graphEdgeCtes + s""",
         e0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM pe),
         $peels,
         conv AS (SELECT CASE
             WHEN (SELECT count(*) FROM e$rounds)
                = (SELECT count(*) FROM e${rounds - 1}) THEN 1
             ELSE CAST(error('graph_kcore oracle: the peel is not ' ||
               'converged at $rounds unrolled rounds — deepen the ' ||
               'unroll') AS INT) END AS ok)
         SELECT n AS node, CAST(count(*) AS BIGINT) AS core_degree FROM (
           SELECT a AS n FROM e$rounds UNION ALL SELECT b FROM e$rounds)
         WHERE (SELECT ok FROM conv) = 1
         GROUP BY n ORDER BY node"""
  }

  /** The full coreness decomposition unrolled: phase k (thresholds
    * 2..7) peels the stable (k-1)-core to the k-core in 10 MATERIALIZED
    * rounds, labels the dropped node set coreness k-1, and GUARDS both
    * per-phase convergence and final-core emptiness with error() (the
    * graphKcoreSql discipline — measured depths: 2 phases × ≤5 rounds
    * at sf0.01, 4 × ≤4 at sf0.1, so the unroll carries ≥ 2× headroom
    * and fails loudly rather than silently diverging if outgrown).
    */
  private def graphCorenessSql: String = {
    val maxK = 7
    val rounds = 10
    val sb = new StringBuilder(graphEdgeCtes)
    sb.append(""",
         c1 AS MATERIALIZED (SELECT src AS a, dst AS b FROM pe),
         n1 AS MATERIALIZED (SELECT DISTINCT a AS node FROM c1
                UNION SELECT DISTINCT b FROM c1)""")
    (2 to maxK).foreach { k =>
      sb.append(s""",
         e${k}_0 AS MATERIALIZED (SELECT * FROM c${k - 1})""")
      (1 to rounds).foreach { i =>
        sb.append(s""",
         d${k}_$i AS MATERIALIZED (SELECT n, count(*) AS c FROM (
             SELECT a AS n FROM e${k}_${i - 1} UNION ALL SELECT b FROM e${k}_${i - 1})
           GROUP BY n),
         w${k}_$i AS MATERIALIZED (SELECT n FROM d${k}_$i WHERE c < $k),
         e${k}_$i AS MATERIALIZED (SELECT e.a, e.b FROM e${k}_${i - 1} e
                 WHERE e.a NOT IN (SELECT n FROM w${k}_$i)
                   AND e.b NOT IN (SELECT n FROM w${k}_$i))""")
      }
      sb.append(s""",
         conv$k AS (SELECT CASE
             WHEN (SELECT count(*) FROM e${k}_$rounds)
                = (SELECT count(*) FROM e${k}_${rounds - 1}) THEN 1
             ELSE CAST(error('graph_coreness oracle: phase $k peel not ' ||
               'converged at $rounds unrolled rounds') AS INT) END AS ok),
         c$k AS MATERIALIZED (SELECT * FROM e${k}_$rounds
                WHERE (SELECT ok FROM conv$k) = 1),
         n$k AS MATERIALIZED (SELECT DISTINCT a AS node FROM c$k
                UNION SELECT DISTINCT b FROM c$k),
         drop${k - 1} AS (SELECT node, CAST(${k - 1} AS BIGINT) AS coreness FROM n${k - 1}
                WHERE node NOT IN (SELECT node FROM n$k))""")
    }
    val union = (1 until maxK)
      .map(j => s"SELECT node, coreness FROM drop$j").mkString(" UNION ALL ")
    sb.append(s""",
         fin AS (SELECT CASE WHEN (SELECT count(*) FROM c$maxK) = 0 THEN 1
             ELSE CAST(error('graph_coreness oracle: coreness exceeds ' ||
               '${maxK - 1} — deepen the phase unroll') AS INT) END AS ok)
         SELECT node, coreness FROM ($union)
         WHERE (SELECT ok FROM fin) = 1
         ORDER BY node""")
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "s2_scan_project" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders ORDER BY o_orderkey",
    "p3_filter_predicate" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
         WHERE l_quantity >= 25 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",
    "p8_validate_route" ->
      """SELECT c_custkey,
                CASE WHEN c_name IS NULL OR c_mktsegment IS NULL THEN 'Valor None en campo requerido'
                     WHEN c_acctbal < 0 THEN 'Saldo < 0' END AS motivo,
                (c_name IS NOT NULL AND c_mktsegment IS NOT NULL AND c_acctbal >= 0) AS is_valid
         FROM customer ORDER BY c_custkey""",
    "f3_normalize_capitalize" ->
      """SELECT c_custkey,
                upper(substr(lower(trim(c_name)),1,1)) || substr(lower(trim(c_name)),2) AS nombre
         FROM customer ORDER BY c_custkey""",
    "f4_normalize_title" ->
      """SELECT p_partkey,
                array_to_string(list_transform(string_split(lower(trim(p_name)), ' '),
                  w -> upper(substr(w,1,1)) || substr(w,2)), ' ') AS nombre
         FROM part ORDER BY p_partkey""",
    "j1_dim_surrogate" ->
      """SELECT row_number() OVER (ORDER BY nombre) AS dim_id, nombre
         FROM (SELECT DISTINCT c_mktsegment AS nombre FROM customer)
         ORDER BY dim_id""",
    "j2_join_agg" ->
      """SELECT n_name, r_name, count(*) AS total_customers,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) / count(*) AS avg_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name, r_name
         ORDER BY total_customers DESC, n_name""",
    "j3_filtered_join" ->
      """SELECT o_orderkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderpriority = '1-URGENT'
         ORDER BY o_orderkey""",
    "j4_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "k2_idempotent_append" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey % 2 = 0
           AND NOT EXISTS (SELECT 1 FROM orders o2
                           WHERE o2.o_orderkey % 3 = 0 AND o2.o_orderkey = orders.o_orderkey)
         ORDER BY o_orderkey""",
    "a1_count" -> "SELECT count(*) AS n FROM lineitem",
    "a3_audit_metrics" ->
      """SELECT count(*) AS input_count,
                count(CASE WHEN o_totalprice >= 1000 THEN 1 END) AS valid_count,
                count(CASE WHEN o_totalprice < 1000 THEN 1 END) AS rejected_count,
                count(DISTINCT o_custkey) AS distinct_customers
         FROM orders""",
    "a4_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "o1_sort_desc" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
         ORDER BY s_acctbal DESC, s_suppkey""",
    "k6_schema_migration" ->
      """SELECT n_nationkey, n_name, n_regionkey,
                '1970-01-01T00:00:00Z' AS processed_at, 'MIGRATION' AS run_id
         FROM nation ORDER BY n_nationkey""",
    "w1_window_running" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
                row_number() OVER w AS order_seq,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4)))
                     OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  AS running_spend
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "ev_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                count(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
    "ev_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, count(*) AS n
         FROM events GROUP BY 1 ORDER BY k""",
    // (graphEdgeCtes / coPurchaseCtes defined below the map — the graph
    // oracles share one edge construction, the Spark queries' no-fork twin)
    // min-label connected components as full reachability (every node
    // adopts the minimum label that can reach it — recursive CTE over
    // the symmetric edge list)
    "graph_components" -> graphComponentsSql,
    // the persisted-store lifecycle lands on the identical labeling —
    // oracle shared verbatim (the persisted-twin convention)
    "graph_components_incremental" -> graphComponentsSql,
    "graph_kcore" -> graphKcoreSql,
    "graph_coreness" -> graphCorenessSql,
    // the persisted edge log distinct-collapses to the same graph —
    // oracle shared verbatim (the persisted-twin convention)
    "graph_coreness_incremental" -> graphCorenessSql,
    "graph_bfs" -> (graphEdgeCtes + """,
         s AS (SELECT min(node) AS node FROM nodes),
         walk(node, dist) AS (
           SELECT node, 0 FROM s
           UNION
           SELECT e.dst, walk.dist + 1 FROM walk JOIN ed e ON e.src = walk.node
           WHERE walk.dist < 30)
         SELECT node, CAST(min(dist) AS INTEGER) AS dist FROM walk
         GROUP BY node ORDER BY node"""),
    // the naive a<b<c triangle enumeration — set-identical to the
    // engine's degree-oriented wedge count, which is the whole point of
    // orienting: same triangles, bounded join
    "graph_triangles" -> (coPurchaseCtes + """,
         e AS (SELECT id_a AS a, id_b AS b FROM pr WHERE shared >= 2),
         tri AS (SELECT e1.a AS t0, e1.b AS t1, e2.b AS t2
                 FROM e e1 JOIN e e2 ON e2.a = e1.b
                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         gn AS (SELECT DISTINCT a AS node FROM e
                UNION SELECT DISTINCT b FROM e),
         cnt AS (SELECT node, count(*) AS n_triangles FROM (
                   SELECT t0 AS node FROM tri
                   UNION ALL SELECT t1 FROM tri
                   UNION ALL SELECT t2 FROM tri)
                 GROUP BY node)
         SELECT gn.node, CAST(COALESCE(cnt.n_triangles, 0) AS BIGINT) AS n_triangles
         FROM gn LEFT JOIN cnt ON cnt.node = gn.node ORDER BY gn.node"""),
    "graph_item_sim" -> (coPurchaseCtes + """
         SELECT pr.id_a, pr.id_b, pr.shared,
                round(CAST(pr.shared AS DOUBLE) / (sa.n_l + sb.n_l - pr.shared), 6) AS jaccard
         FROM pr
         JOIN sizes sa ON sa.r = pr.id_a
         JOIN sizes sb ON sb.r = pr.id_b
         WHERE round(CAST(pr.shared AS DOUBLE) / (sa.n_l + sb.n_l - pr.shared), 6) >= 0.2
         ORDER BY pr.id_a, pr.id_b"""),
    // independent join-chain replay of the windowed-min funnel: each
    // step's min ts strictly after the previous step's, per user. The
    // universe is users with >=1 STEP-TYPE event (mirrors the operator's
    // pushed isin filter — entities that never touch the funnel emit no
    // row); users in that universe who lack a signup still get a
    // null-t1 row from the grouped FILTER aggregate.
    "ev_funnel" ->
      """WITH t1 AS (
           SELECT user_id, min(ts) FILTER (WHERE event_type = 'signup') AS t1
           FROM events
           WHERE event_type IN ('signup', 'click', 'purchase')
           GROUP BY user_id),
         t2 AS (
           SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN t1 USING (user_id)
           WHERE e.event_type = 'click' AND t1.t1 IS NOT NULL AND e.ts > t1.t1
           GROUP BY e.user_id),
         t3 AS (
           SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN t2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > t2.t2
           GROUP BY e.user_id)
         SELECT t1.user_id,
                epoch_us(t1.t1) AS t1_us, epoch_us(t2.t2) AS t2_us,
                epoch_us(t3.t3) AS t3_us,
                CAST((CASE WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END)
                   + (CASE WHEN t2.t2 IS NOT NULL THEN 1 ELSE 0 END)
                   + (CASE WHEN t3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_steps
         FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
         ORDER BY user_id""",
    // dwell replay: the same join-chain funnel, dwell rows by UNION ALL,
    // exact quantile_cont (the a6_percentiles parity)
    "ev_funnel_dwell" ->
      """WITH t1 AS (
           SELECT user_id, min(ts) FILTER (WHERE event_type = 'signup') AS t1
           FROM events
           WHERE event_type IN ('signup', 'click', 'purchase')
           GROUP BY user_id),
         t2 AS (
           SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN t1 USING (user_id)
           WHERE e.event_type = 'click' AND t1.t1 IS NOT NULL AND e.ts > t1.t1
           GROUP BY e.user_id),
         t3 AS (
           SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN t2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > t2.t2
           GROUP BY e.user_id),
         d AS (
           SELECT CAST(1 AS INTEGER) AS step, 'signup->click' AS step_pair,
                  epoch_us(t2.t2) - epoch_us(t1.t1) AS dwell_us
           FROM t1 JOIN t2 USING (user_id)
           UNION ALL
           SELECT CAST(2 AS INTEGER) AS step, 'click->purchase' AS step_pair,
                  epoch_us(t3.t3) - epoch_us(t2.t2) AS dwell_us
           FROM t2 JOIN t3 USING (user_id))
         SELECT step, step_pair, count(*) AS n,
                round(quantile_cont(dwell_us, 0.5), 6) AS p50_us,
                round(quantile_cont(dwell_us, 0.9), 6) AS p90_us
         FROM d GROUP BY step, step_pair ORDER BY step""",
    // cohort retention replay: Monday-start week truncs in both engines;
    // activity deduped to user-weeks before the cohort join
    "ev_retention" ->
      """WITH cohort AS (
           SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         acts AS (
           SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events),
         j AS (
           SELECT c.cohort_week,
                  CAST(date_diff('day', c.cohort_week, a.act_week) // 7 AS BIGINT)
                    AS week_offset,
                  a.user_id
           FROM acts a JOIN cohort c USING (user_id)
           WHERE a.act_week >= c.cohort_week),
         sizes AS (
           SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY cohort_week),
         r AS (
           SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_active
           FROM j GROUP BY cohort_week, week_offset)
         SELECT strftime(r.cohort_week, '%Y-%m-%d') AS cohort_week, r.week_offset,
                r.n_active, s.cohort_size,
                round(CAST(r.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
         FROM r JOIN sizes s USING (cohort_week)
         ORDER BY cohort_week, week_offset""",
    "ev_resample" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) // 21600000000 AS bucket, value, ts, event_id
           FROM events),
         pb AS (
           SELECT user_id, bucket,
                  CAST(count(*) OVER (PARTITION BY user_id, bucket) AS BIGINT)
                    AS n_events,
                  value AS lastv
           FROM e
           QUALIFY row_number() OVER (PARTITION BY user_id, bucket
                                      ORDER BY ts DESC, event_id DESC) = 1),
         grid AS (
           SELECT user_id, unnest(range(lo, hi + 1)) AS bucket
           FROM (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
                 FROM pb GROUP BY user_id)),
         f AS (
           SELECT g.user_id, g.bucket,
                  coalesce(p.n_events, CAST(0 AS BIGINT)) AS n_events,
                  last_value(p.lastv IGNORE NULLS) OVER (
                    PARTITION BY g.user_id ORDER BY g.bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
           FROM grid g LEFT JOIN pb p USING (user_id, bucket))
         SELECT user_id, bucket, n_events, value_ffill FROM f
         ORDER BY user_id, bucket""",
    "ev_asof_join" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
                epoch_us(r.ts) AS view_ts_us, r.value AS view_value
         FROM (SELECT * FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value
                         FROM events WHERE event_type = 'view' GROUP BY 1, 2) r
           ON l.user_id = r.user_id AND r.ts <= l.ts
         ORDER BY l.event_id""",
    "o2_topk_per_group" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
         FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                      row_number() OVER (PARTITION BY l_returnflag
                        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
               FROM lineitem) z
         WHERE rn <= 3
         ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber""",
    "s1_literal_scan" ->
      """SELECT upper(substr(lower(trim(nombre)),1,1)) || substr(lower(trim(nombre)),2) AS nombre,
                TRY_CAST(trim(edad) AS INTEGER) AS edad,
                array_to_string(list_transform(string_split(lower(trim(ciudad)), ' '),
                  w -> upper(substr(w,1,1)) || substr(w,2)), ' ') AS ciudad
         FROM (VALUES ('  walter ', '26', 'SAN LUCAS'),
                      ('RAMONA', '52', 'san lucas'),
                      ('luz', '30', ' valle alto')) AS t(nombre, edad, ciudad)
         ORDER BY nombre""",
    "f9_sanitize" ->
      """SELECT c_custkey, regexp_replace(c_name, '[^[:alnum:]]', '_', 'g') AS safe_name
         FROM customer ORDER BY c_custkey""",
    "f5_try_cast" ->
      """SELECT o_orderkey, raw, TRY_CAST(raw AS INTEGER) AS parsed,
                TRY_CAST(raw AS INTEGER) IS NULL AS is_reject
         FROM (SELECT o_orderkey,
                      CAST(o_orderkey AS VARCHAR)
                        || CASE WHEN o_orderstatus = 'O' THEN '' ELSE 'x' END AS raw
               FROM orders)
         ORDER BY o_orderkey""",
    "set_ops" ->
      """SELECT k FROM (
           SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
           UNION
           SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
         ) EXCEPT SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY k""",
    "j5_outer_join" ->
      """SELECT k, c_name, n_orders FROM (
           SELECT COALESCE(b.k, o.k) AS k, c_name, n_orders
           FROM (SELECT c_custkey AS k, c_name FROM customer WHERE c_acctbal > 9000) b
           FULL OUTER JOIN (SELECT o_custkey AS k, count(*) AS n_orders
                            FROM orders GROUP BY o_custkey) o
             ON b.k = o.k)
         WHERE c_name IS NOT NULL OR n_orders >= 25
         ORDER BY k""",
    "w2_window_variety" ->
      """SELECT o_custkey, o_orderkey,
                lag(o_orderkey, 1) OVER w AS prev_key,
                lead(o_orderkey, 1) OVER w AS next_key,
                rank() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderpriority, o_orderkey) AS prio_rank,
                ntile(4) OVER w AS quartile
         FROM orders WHERE o_custkey < 200
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "a6_percentiles" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
                round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
                round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // identical decimal power sums + IEEE-exact derived arithmetic as the
    // Spark side — hash-matchable second moments
    "a7_moments" ->
      """WITH agg AS (
           SELECT l_returnflag,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
                  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
                round(sx / n, 6) AS mean_qty,
                round((sxx - sx * sx / n) / (n - 1), 6) AS var_qty,
                round(sqrt((syy - sy * sy / n) / (n - 1)), 6) AS sd_price,
                round((sxy - sx * sy / n) / (n - 1), 6) AS covar_qty_price,
                round((sxy - sx * sy / n) /
                      sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
                  AS corr_qty_price
         FROM agg ORDER BY l_returnflag""",
    // the theta-join statement of the bucketized band join
    "ev_range_join" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS t FROM events
                    WHERE event_type = 'error'),
              c AS (SELECT epoch_us(ts) AS t FROM events
                    WHERE event_type = 'click')
         SELECT e.event_id, count(c.t) AS n_clicks_60s
         FROM e LEFT JOIN c ON c.t >= e.t AND c.t <= e.t + 60000000
         GROUP BY e.event_id ORDER BY e.event_id""",
    "a8_pivot" ->
      """SELECT l_returnflag,
                CAST(sum(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS DECIMAL(38,4)) END) AS DOUBLE) AS qty_f,
                CAST(sum(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS DECIMAL(38,4)) END) AS DOUBLE) AS qty_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "f_string_funcs" ->
      """SELECT s_suppkey,
                concat_ws('|', s_name, s_nationkey) AS tagged,
                lpad(CAST(s_suppkey AS VARCHAR), 8, '0') AS padded,
                regexp_replace(s_name, 'Supplier', 'SUP', 'g') AS renamed,
                substr(s_name, 1, 8) AS prefix,
                CAST(length(s_name) AS BIGINT) AS name_len
         FROM supplier ORDER BY s_suppkey""",
    "f_null_handling" ->
      """SELECT c_custkey,
                nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
                COALESCE(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_defaulted,
                CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS pos_bal
         FROM customer ORDER BY c_custkey""",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))) AS DOUBLE)
                  AS sum_disc_price,
                CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(38,6)))
                     AS DOUBLE) AS sum_charge,
                CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)/count(*) AS avg_qty,
                CAST(SUM(CAST(l_discount AS DECIMAL(38,4))) AS DOUBLE)/count(*) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q3_shipping_priority" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate, o_orderpriority,
                CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))) AS DOUBLE)
                  AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderkey
         LIMIT 10""",
    "q5_local_supplier" ->
      """SELECT n_name,
                CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))) AS DOUBLE)
                  AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",
    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS odate, o_totalprice, sum_qty
         FROM orders
         JOIN (SELECT l_orderkey,
                      CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
               FROM lineitem GROUP BY l_orderkey) b
           ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE sum_qty > 300
         ORDER BY o_totalprice DESC, odate, o_orderkey
         LIMIT 100""",
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4)))
                  AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",
    "q14_promo_revenue" ->
      """SELECT 100.0 *
                CAST(SUM(CASE WHEN p_type = 'PROMO'
                              THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))
                              ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) /
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4)))
                  AS DOUBLE) AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-03-01 00:00:00'""",
    "q19_discounted_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4)))
                  AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                  AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                  AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                  AND l_quantity BETWEEN 20 AND 30)""",
    "zorder_code" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                CAST(list_sum(list_transform(range(0, 16),
                  i -> (((l_partkey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
                     + (((l_suppkey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))))
                  AS BIGINT) AS zcode
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",
    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,4))) AS DOUBLE)
                  AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_discount >= 0.06)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q17_small_quantity" ->
      """WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
                     FROM lineitem JOIN part ON l_partkey = p_partkey
                     WHERE p_brand = 'Brand#23'),
            av AS (SELECT l_partkey AS ak,
                          CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)
                            / count(*) AS avg_qty
                   FROM li GROUP BY l_partkey)
         SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) / 7.0
                  AS avg_yearly
         FROM li JOIN av ON l_partkey = ak
         WHERE l_quantity < 0.2 * avg_qty""",
    "sql_readback" ->
      """SELECT n_name, count(*) AS total_customers,
                upper(substr(lower(min(c_name)),1,1)) || substr(lower(min(c_name)),2)
                  AS first_name_norm
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name
         ORDER BY total_customers DESC, n_name""",
    "a5_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "a5_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "a5_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "ev_sessionize" ->
      """SELECT user_id,
                count(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 END)
                  AS n_sessions,
                count(*) AS n_events
         FROM (SELECT user_id, epoch_us(ts) AS ts_us,
                      lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
               FROM events)
         GROUP BY user_id ORDER BY user_id""",
    // transition matrix: same lead() sequence derivation, p is one double
    // division (IEEE-identical in both engines), rounded at emission only
    "ev_markov" ->
      """WITH seq AS (
           SELECT event_type AS src,
                  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
           FROM events),
         edges AS (
           SELECT src, dst, count(*) AS n FROM seq WHERE dst IS NOT NULL
           GROUP BY src, dst)
         SELECT src, dst, n,
                round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
         FROM edges ORDER BY src, dst""",
    "ev_pagerank" -> evPageRankSql(),
    // robust MAD outliers: quantile_cont parity for both percentile
    // passes; the z expression is written in the same association order
    // Spark evaluates ((0.6745 * dev) / mad)
    // per-(type, hour) volume buckets through the same MAD gate as
    // ev_outliers — associations/casts mirror madOutliers exactly
    "ev_anomaly" ->
      """WITH b AS (
           SELECT event_type,
                  CAST(floor(epoch_us(ts) / 3.6e9) AS BIGINT) AS hour,
                  CAST(count(*) AS DOUBLE) AS n
           FROM events GROUP BY event_type, 2),
         med AS (
           SELECT event_type, quantile_cont(n, 0.5) AS med
           FROM b GROUP BY event_type),
         d AS (
           SELECT b.event_type, b.hour, b.n, b.n - m.med AS dev
           FROM b JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type, quantile_cont(abs(dev), 0.5) AS mad
           FROM d GROUP BY event_type)
         SELECT d.event_type, d.hour, d.n,
                round(0.6745 * d.dev / m.mad, 6) AS z
         FROM d JOIN mad m USING (event_type)
         WHERE m.mad > 0 AND abs(0.6745 * d.dev / m.mad) > 3.5
         ORDER BY d.event_type, d.hour""",
    "ev_outliers" ->
      """WITH med AS (
           SELECT event_type, quantile_cont(CAST(value AS DOUBLE), 0.5) AS med
           FROM events GROUP BY event_type),
         d AS (
           SELECT e.event_type, e.event_id, CAST(e.value AS DOUBLE) AS value,
                  CAST(e.value AS DOUBLE) - m.med AS dev
           FROM events e JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type, quantile_cont(abs(dev), 0.5) AS mad
           FROM d GROUP BY event_type)
         SELECT d.event_type, d.event_id, d.value,
                round(0.6745 * d.dev / m.mad, 6) AS z
         FROM d JOIN mad m USING (event_type)
         WHERE m.mad > 0 AND abs(0.6745 * d.dev / m.mad) > 3.5
         ORDER BY d.event_type, d.event_id""",
    // RFM: exact-percentile boundaries (quantile_cont parity), integer
    // bucket sums, recency inverted; r_days cast to BIGINT to match the
    // Spark floor's long type
    "ev_rfm" ->
      """WITH anchor AS (SELECT max(epoch_us(ts)) AS amax FROM events),
         pu AS (
           SELECT user_id,
                  CAST(floor((anchor.amax - max(epoch_us(ts))) / 8.64e10) AS BIGINT)
                    AS r_days,
                  count(*) AS f,
                  round(CAST(sum(CAST(floor(least(greatest(value, -1.0e6), 1.0e6)
                        * 1.0e12) AS DECIMAL(38,0))) AS DOUBLE) / 1.0e12, 6) AS m
           FROM events, anchor WHERE event_type = 'purchase'
           GROUP BY user_id, anchor.amax),
         b AS (
           SELECT quantile_cont(CAST(r_days AS DOUBLE), 0.2) AS r1,
                  quantile_cont(CAST(r_days AS DOUBLE), 0.4) AS r2,
                  quantile_cont(CAST(r_days AS DOUBLE), 0.6) AS r3,
                  quantile_cont(CAST(r_days AS DOUBLE), 0.8) AS r4,
                  quantile_cont(CAST(f AS DOUBLE), 0.2) AS f1,
                  quantile_cont(CAST(f AS DOUBLE), 0.4) AS f2,
                  quantile_cont(CAST(f AS DOUBLE), 0.6) AS f3,
                  quantile_cont(CAST(f AS DOUBLE), 0.8) AS f4,
                  quantile_cont(m, 0.2) AS m1, quantile_cont(m, 0.4) AS m2,
                  quantile_cont(m, 0.6) AS m3, quantile_cont(m, 0.8) AS m4
           FROM pu)
         SELECT pu.user_id, pu.r_days, pu.f, pu.m,
                6 - (1 + (CASE WHEN CAST(pu.r_days AS DOUBLE) > b.r1 THEN 1 ELSE 0 END)
                       + (CASE WHEN CAST(pu.r_days AS DOUBLE) > b.r2 THEN 1 ELSE 0 END)
                       + (CASE WHEN CAST(pu.r_days AS DOUBLE) > b.r3 THEN 1 ELSE 0 END)
                       + (CASE WHEN CAST(pu.r_days AS DOUBLE) > b.r4 THEN 1 ELSE 0 END))
                  AS r_score,
                1 + (CASE WHEN CAST(pu.f AS DOUBLE) > b.f1 THEN 1 ELSE 0 END)
                  + (CASE WHEN CAST(pu.f AS DOUBLE) > b.f2 THEN 1 ELSE 0 END)
                  + (CASE WHEN CAST(pu.f AS DOUBLE) > b.f3 THEN 1 ELSE 0 END)
                  + (CASE WHEN CAST(pu.f AS DOUBLE) > b.f4 THEN 1 ELSE 0 END) AS f_score,
                1 + (CASE WHEN pu.m > b.m1 THEN 1 ELSE 0 END)
                  + (CASE WHEN pu.m > b.m2 THEN 1 ELSE 0 END)
                  + (CASE WHEN pu.m > b.m3 THEN 1 ELSE 0 END)
                  + (CASE WHEN pu.m > b.m4 THEN 1 ELSE 0 END) AS m_score
         FROM pu, b ORDER BY pu.user_id""",
    // trigram paths: same lead-sequence derivation; ties on (n, path)
    // make the LIMIT 10 set identical in both engines
    "ev_top_paths" ->
      """WITH seq AS (
           SELECT event_type AS e1,
                  lead(event_type, 1) OVER w AS e2,
                  lead(event_type, 2) OVER w AS e3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         p AS (
           SELECT e1 || '->' || e2 || '->' || e3 AS path, count(*) AS n
           FROM seq WHERE e3 IS NOT NULL GROUP BY 1)
         SELECT path, n FROM p ORDER BY n DESC, path LIMIT 10""",
    // rational (libm-free) recency decay; anchor as a scalar subquery,
    // per-term association mirrors the Spark side exactly
    "ev_decay" ->
      """WITH anchor AS (SELECT max(epoch_us(ts)) AS amax FROM events),
         d AS (
           SELECT user_id, value,
                  floor((anchor.amax - epoch_us(ts)) / 8.64e10) AS age_days
           FROM events, anchor)
         SELECT user_id,
                round(CAST(sum(CAST(floor(least(greatest(value / (1.0 + age_days), -1.0e6), 1.0e6)
                      * 1.0e12) AS DECIMAL(38,0))) AS DOUBLE) / 1.0e12, 6) AS score
         FROM d GROUP BY user_id ORDER BY user_id""",
    // equi-width bins: min/max are exact, the bin expression is written
    // in the Spark association order ((v - lo) / ((hi - lo) / 10.0))
    "ev_histogram" ->
      """WITH st AS (
           SELECT event_type, min(value) AS lo, max(value) AS hi
           FROM events GROUP BY event_type),
         b AS (
           SELECT e.event_type,
                  CAST(CASE WHEN st.hi = st.lo THEN 0.0
                       ELSE least(floor((e.value - st.lo) / ((st.hi - st.lo) / 10.0)), 9.0)
                       END AS BIGINT) AS bin
           FROM events e JOIN st USING (event_type))
         SELECT event_type, bin, count(*) AS n
         FROM b GROUP BY event_type, bin ORDER BY event_type, bin""",
    // the salted Spark plan must equal the plain relational join
    "j6_salted_join" ->
      """SELECT s_nationkey, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey""")

  /** Query-name → implementation, aligned with [[oracles]] keys. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s2_scan_project" -> (scanProject _),
    "p3_filter_predicate" -> (filterPredicate _),
    "p8_validate_route" -> (validateRoute _),
    "f3_normalize_capitalize" -> (normalizeCapitalize _),
    "f4_normalize_title" -> (normalizeTitle _),
    "j1_dim_surrogate" -> (dimSurrogate _),
    "j2_join_agg" -> (joinAgg _),
    "j3_filtered_join" -> (filteredJoin _),
    "j4_anti_join" -> (antiJoin _),
    "k2_idempotent_append" -> (idempotentAppendPlan _),
    "a1_count" -> (scalarCount _),
    "a3_audit_metrics" -> (auditMetrics _),
    "a4_distinct" -> (distinctPairs _),
    "o1_sort_desc" -> (sortDesc _),
    "k6_schema_migration" -> (schemaMigration _),
    "w1_window_running" -> (windowRunning _),
    "ev_window_agg" -> (eventsWindowAgg _),
    "ev_json_extract" -> (eventsJsonExtract _),
    "ev_asof_join" -> (eventsAsOf _),
    "ev_resample" -> (eventsResample _),
    "ev_funnel" -> (eventsFunnel _),
    "ev_funnel_dwell" -> (eventsFunnelDwell _),
    "ev_retention" -> (eventsRetention _),
    "ev_markov" -> (eventsMarkov _),
    "ev_pagerank" -> (eventsPageRank _),
    "graph_components" -> (graphComponents _),
    "graph_components_incremental" -> (graphComponentsIncremental _),
    "graph_kcore" -> (graphKcore _),
    "graph_coreness" -> (graphCoreness _),
    "graph_coreness_incremental" -> (graphCorenessIncremental _),
    "graph_bfs" -> (graphBfs _),
    "graph_triangles" -> (graphTriangles _),
    "graph_item_sim" -> (graphItemSim _),
    "ev_outliers" -> (eventsOutliers _),
    "ev_anomaly" -> (eventsAnomaly _),
    "j6_salted_join" -> (saltedJoinAgg _),
    "ev_histogram" -> (eventsHistogram _),
    "ev_decay" -> (eventsDecay _),
    "ev_top_paths" -> (eventsTopPaths _),
    "ev_rfm" -> (eventsRfm _),
    "o2_topk_per_group" -> (topKPerGroup _),
    "ev_sessionize" -> (eventsSessionize _),
    "s1_literal_scan" -> (literalScan _),
    "f9_sanitize" -> (sanitize _),
    "f5_try_cast" -> (tryCastValidity _),
    "set_ops" -> (setOps _),
    "a5_rollup" -> (rollupAgg _),
    "a5_cube" -> (cubeAgg _),
    "a5_grouping_sets" -> (groupingSetsAgg _),
    "j5_outer_join" -> (outerJoin _),
    "w2_window_variety" -> (windowVariety _),
    "a6_percentiles" -> (percentiles _),
    "a6_percentiles_approx" -> (percentilesApprox _),
    "a9_distinct_approx" -> (distinctApprox _),
    "a7_moments" -> (moments _),
    "a8_pivot" -> (pivotTable _),
    "ev_range_join" -> (eventsRangeJoin _),
    "f_string_funcs" -> (stringFuncs _),
    "f_null_handling" -> (nullHandling _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q4_priority_exists" -> (q4PriorityExists _),
    "q17_small_quantity" -> (q17SmallQuantity _),
    "q18_large_orders" -> (q18LargeOrders _),
    "zorder_code" -> (zorderCode _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q19_discounted_revenue" -> (q19DiscountedRevenue _),
    "sql_readback" -> (sqlReadback _))
}
