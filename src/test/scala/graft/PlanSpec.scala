package graft

import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType
import graft.plans.{DoubleToDecimal, FastDecimalCast}
import graft.queries.ReferenceQueries

/** Scale-shape regression guards: these assert properties of the physical
  * plan, not the output — a correct-but-unscalable plan (lost pushdown,
  * dimension shuffle instead of broadcast, codegen fallback) fails here
  * before it ever reaches a cluster.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("warehouse_profile: one corpus scan, Expand-based multi-distinct") {
    val p = plan("warehouse_profile")
    assert(p.contains("Expand"), p.take(800))
    assert("FileScan".r.findAllIn(p).length == 1,
      s"profile must read the table exactly once:\n${p.take(800)}")
  }

  test("ev_markov: no joins — one windowed pass plus model-sized window") {
    val p = plan("ev_markov")
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("Window"), p.take(800))
  }

  test("ev_outliers: group-stat joins broadcast after AQE") {
    val df = SparkEntry.queries("ev_outliers")(spark, sf)
    df.collect() // finalize the AQE plan: stat-table sizes are runtime facts
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("p3: predicates and projection pushed to the parquet scan") {
    val p = plan("p3_filter_predicate")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p.take(800))
    assert(p.contains("GreaterThanOrEqual(l_quantity,25.0)"))
    // pruned read schema: only the 4 projected columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string>"))
  }

  test("j2: dimensions broadcast, no shuffle join") {
    val p = plan("j2_join_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"))
  }

  test("j4: anti join planned as broadcast/shuffled hash, not nested loop") {
    val p = plan("j4_anti_join")
    assert(p.contains("LeftAnti"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("custom expressions stay inside whole-stage codegen") {
    val df = SparkEntry.queries("f3_normalize_capitalize")(spark, sf)
    assert(df.collect().nonEmpty) // finalize the AQE plan (and compile codegen)
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages print with the `*(n)` prefix; the projection holding
    // pycapitalize must be inside one
    assert(p.contains("*(1) Project"), p.take(500))
  }

  test("sql surface: graft functions callable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT py_title('o''hara x') AS t, simhash64(array('a','b')) AS h").head()
    assert(r.getString(0) == "O'Hara X")
    assert(r.getLong(1) != 0L)
  }

  test("optimizer rule: nested py_capitalize collapsed (idempotence)") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions.col
    // non-literal source: a literal input would be constant-folded whole
    val df = SparkEntry.queries("s2_scan_project")(spark, sf)
      .select(graft.functions.py_capitalize(
        graft.functions.py_capitalize(col("o_orderstatus"))).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert("pycapitalize".r.findAllIn(optimized.toLowerCase).size == 1, optimized)
    assert(df.limit(1).collect().nonEmpty) // semantics intact, plan runs
  }

  test("ivf assignment is map-only: no window, sort, aggregate or exchange") {
    val embs = Tables.load(spark, sf, "embeddings")
    val assigned = graft.operators.Similarity.ivfAssign(embs, "embedding", "vec_id", spark, 8)
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("Sort"), p.take(800))
    assert(!p.contains("Aggregate"), p.take(800))
    assert(!p.contains("Exchange"), p.take(800))
  }

  test("incremental bm25 serve: doc_freq partials prune to the BROADCAST " +
    "query vocabulary before the merge aggregate") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").limit(100)
      .localCheckpoint(true)
    val dir = tempDir("plan_bm25i")
    graft.operators.Retrieval.buildBm25Incremental(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", dir)
    graft.operators.Retrieval.appendBm25Incremental(spark, dir,
      docs.filter(col("doc_id") % 2 =!= 0), "text", "doc_id")
    val terms = Seq((1L, "the"), (1L, "data")).toDF("query_id", "term")
    val p = graft.operators.Retrieval
      .bm25TopKFromIncremental(spark, dir, terms, 5)
      .queryExecution.executedPlan.toString
    // the merge aggregate over the per-ingest df partials must sit on a
    // VOCABULARY-pruned input: a broadcast semi-join against the query
    // terms, never an index-sized shuffle of the partials
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      p.take(1500))
  }

  test("span store probe: committed partials prune to the BROADCAST batch " +
    "vocabulary; the K2 gate's committed read carries a pushed id-range filter") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").limit(100)
      .localCheckpoint(true)
    val dir = s"${tempDir("plan_span")}/store"
    graft.operators.SpanStore.append(spark, dir,
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    val probe = graft.operators.SpanStore.probe(spark, dir,
      docs.filter(col("doc_id") % 2 =!= 0), "text", "doc_id")
    val p = probe.queryExecution.executedPlan.toString
    // the committed span_docs read must sit behind a broadcast semi-join
    // against the batch's span hashes — point lookups, never a
    // store-sized shuffle of the partials (the bm25 serve discipline)
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      p.take(1500))
    // the gate shape: a second append's committed doc_ids scan pushes the
    // batch's id window to the parquet row-group stats (exact for any
    // ordered id type). The gate runs inside append (eager), so assert on
    // the same expression append builds.
    val committedIds = spark.read.parquet(s"$dir/doc_ids/ingest=" +
        new java.io.File(s"$dir/_commits").listFiles()
          .map(_.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith(".")).head)
      .filter(col("doc_id").between(1L, 99L))
    val gp = committedIds.queryExecution.executedPlan.toString
    assert(gp.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,1), LessThanOrEqual(doc_id,99)]"), gp.take(1200))
  }

  test("streaming ingest lanes' committed-id gate: flat ingests carry " +
    "the pushed id-range filter; the compacted gate_ids base carries a " +
    "touched-bucket LEAF-dir read (scatter-proof — r13 verdict #2)") {
    import spark.implicits._
    val dir = tempDir("plan_gate")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L until 200L).map(i => (i, s"doc $i text")).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs/ingest=b0")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_commits"))
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_commits/b0"), true).close()
    val batch = Seq((5L, "a"), (40L, "b")).toDF("doc_id", "text")
    // FLAT layout: the committed side must prune to the batch's
    // [min, max] id window, pushed to the parquet row-group stats — the
    // read tracks the window's row groups, not the corpus (r12 verdict #1)
    val gated = graft.streaming.IncrementalStream.gateCommittedIds(
      batch, spark, dir, Seq("b0"), "doc_id", "text")
    val p = gated.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,5), LessThanOrEqual(doc_id,40)]"),
      p.take(1500))
    // and the anti-join itself broadcasts the pruned committed side
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")), p.take(1500))
    assert(gated.count() == 0) // both batch ids are committed
    // BUCKETED base: after compaction the same gate prunes the gate_ids
    // read to the batch's touched buckets — a partition filter that
    // holds for ANY id distribution, where the window prune above
    // degrades to a full scan on scattered ids
    assert(graft.streaming.IncrementalStream
      .compactDecontamCorpus(spark, dir) == ((1, 1)))
    val retained = new java.io.File(s"$dir/_commits").listFiles()
      .map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
    assert(retained.length == 1 && retained.head.startsWith("retained_"))
    // READ POLICY (r14 verdict #2): 200 committed ids sit far below the
    // measured crossover, so the default policy reads ONE window-pruned
    // docs scan — no leaf dirs opened at all
    val gatedFlat = graft.streaming.IncrementalStream.gateCommittedIds(
      batch, spark, dir, retained, "doc_id", "text")
    val scansF = gatedFlat.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }
    assert(scansF.nonEmpty && scansF.forall(_.forall(p =>
        !p.contains("/bucket="))),
      s"below the crossover the gate must choose the flat docs scan: $scansF")
    val pf = gatedFlat.queryExecution.executedPlan.toString
    assert(pf.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,5), LessThanOrEqual(doc_id,40)]"),
      pf.take(1500))
    assert(gatedFlat.count() == 0, "the flat-policy gate must veto both ids")
    // forcing the crossover to 0 exercises the bucketed choice
    val gated2 = graft.streaming.IncrementalStream.gateCommittedIds(
      batch, spark, dir, retained, "doc_id", "text",
      flatScanCrossoverIds = 0L)
    // two batch ids → at most two touched-bucket LEAF dirs addressed
    // directly, never a whole-base discovery scan (rootPaths inspected
    // programmatically — the plan string truncates Location)
    val scans2 = gated2.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }
    val leaf2 = scans2.filter(_.exists(_.contains("/bucket=")))
    assert(leaf2.nonEmpty && leaf2.forall(ps =>
        ps.size <= 2 && ps.forall(_.contains("/bucket="))),
      s"expected <=2 bucket-leaf paths in the gate scan: $scans2")
    assert(gated2.count() == 0, "the pruned gate must still veto both ids")
  }

  test("decontam overlap with a precomputed corpus shingle stream pays " +
    "ONE explode (the bench side) — the corpus side reads the shared " +
    "checkpointed blocks (r14 verdict #3); values identical to the bare " +
    "call, which pays two") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i"), (2L, "a b c d e f g h z"),
      (3L, "q w e r t y u i o")).toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") === 1L)
    val shared = graft.operators.Dedup.shingleHashes(docs, "text", "doc_id", 8)
      .localCheckpoint(true)
    val hooked = graft.operators.Decontam.overlap(docs, bench, "text",
      "doc_id", k = 8, corpusShingles = Some(shared))
    val gen = hooked.queryExecution.sparkPlan.toString
      .linesIterator.count(_.contains("Generate"))
    assert(gen == 1, s"expected one explode (bench side only), got $gen")
    val bare = graft.operators.Decontam.overlap(docs, bench, "text",
      "doc_id", k = 8)
    assert(bare.queryExecution.sparkPlan.toString
      .linesIterator.count(_.contains("Generate")) == 2,
      "the bare call pays the corpus-side explode too")
    assert(hooked.orderBy("doc_id").collect().toSeq ==
      bare.orderBy("doc_id").collect().toSeq)
  }

  test("decontaminate: bench side broadcast — corpus shingles never shuffle for the join") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("ShuffledHashJoin"), p.take(800))
  }

  test("pii redaction is map-only: no exchange, single codegen'd pass") {
    val docs = Tables.load(spark, sf, "documents")
    val p = graft.operators.TextAnalysis.redactPii(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p.take(800))
  }

  test("repetition: partial+final hash aggregates, no window") {
    val docs = Tables.load(spark, sf, "documents")
    val p = graft.operators.TextAnalysis.repetition(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
  }

  test("o2 top-k per group drives TopKPerKeyExec, not a window sort") {
    val p = plan("o2_topk_per_group")
    assert(p.contains("TopKPerKey"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
  }

  // AQE's executedPlan string prints Final + Initial plans back to back;
  // shape counts must look at the final section only.
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    assert(df.collect() != null) // finalize AQE
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q4: EXISTS plans as a hash semi-join, no distinct on the probe side") {
    val p = finalPlan("q4_priority_exists")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the probe side must not pay a dedup aggregate before the semi-join:
    // exactly the two HashAggregates of the final partial+final group-by
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") == 2, p)
  }

  test("q17: decorrelated subquery — all joins broadcast, fact never broadcast") {
    val p = finalPlan("q17_small_quantity")
    // 3 = brand-filter join under the avg build + the same join on the
    // probe branch + the avg broadcast back onto the probe. The fact scan
    // runs twice (standard for decorrelated Q17); neither copy broadcasts.
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") == 3, p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("every oracled query name has a queries entry") {
    val q = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet -- q
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("decimal-funneled aggregates are partition-count invariant") {
    // same result with 1 partition and with 13 (double sums would differ in
    // low bits; decimal sums must not)
    val a = ReferenceQueries.joinAgg(spark, sf).collect().toSeq
    val sp = spark.sessionState.conf
    val before = sp.getConfString("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val b = ReferenceQueries.joinAgg(spark, sf).collect().toSeq
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("grouping sets plan as one Expand + one aggregate, not a union of scans") {
    val p = plan("a5_grouping_sets")
    assert(p.contains("Expand"), p.take(800))
    assert(!p.contains("Union"), p.take(800))
    // one partial+final pair over the expanded rows
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") == 2, p.take(1200))
  }

  test("sql surface: quantize_int8 and interleave_bits callable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT quantize_int8(array(CAST(0.5 AS FLOAT), CAST(-1.0 AS FLOAT))).qvec AS q, " +
        "interleave_bits(5L, 3L, 3) AS z").head()
    assert(r.getSeq[Int](0) == Seq(64, -127))
    assert(r.getLong(1) == 27L)
  }

  test("q19: disjunctive predicate keeps the broadcast hash join") {
    val p = plan("q19_discounted_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the branch-hull quantity bound reaches the lineitem scan
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"), p.take(1200))
  }

  test("zorder code projection is map-only before the output sort") {
    val li = Tables.load(spark, sf, "lineitem")
    val p = graft.operators.ZOrder
      .withZCode(li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey")),
        "l_partkey", "l_suppkey")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
  }

  test("weighted sample plans as TakeOrderedAndProject, not a global sort") {
    val p = graft.operators.CorpusOps.sampleWeighted(
        Tables.load(spark, sf, "documents"), "doc_id",
        col("n_chars"), k = 50)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(!p.contains("\nSort") && !p.contains("*Sort"), p.take(600))
  }

  test("chunking is map-only before the query's output sort: no exchange, no window") {
    val p = graft.operators.CorpusOps.chunkDocs(
        Tables.load(spark, sf, "documents"), "doc_id", "text",
        chunkTokens = 64, stride = 48)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(600))
    assert(!p.contains("Window"), p.take(600))
  }

  test("pq encode is map-only codegen: no exchange, no UDF") {
    val embs = Tables.load(spark, sf, "embeddings")
    val cb = graft.operators.Pq.train(embs, "embedding", "vec_id",
      m = 4, ksub = 8, iters = 1)
    val p = graft.operators.Pq.encode(embs, "embedding", "vec_id", cb)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(800))
  }

  test("dsir: ratio table broadcasts, selection is TakeOrderedAndProject") {
    val p = plan("corpus_dsir")
    // the llr table join must broadcast (bounded side); the id-to-id
    // weight join may SMJ — both of ITS sides are corpus-sized, which is
    // the correct shape, so no blanket SMJ ban here
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
  }

  test("naive bayes: model broadcasts; argmax is an aggregate, not a window") {
    val p = plan("text_naive_bayes")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(800))
  }

  test("cdc diff: one outer join, hash projection below the exchange") {
    val d = Tables.load(spark, sf, "documents")
    val diff = graft.operators.Cdc.tableDiff(
      d.filter(col("doc_id") % 7 =!= 0), d.filter(col("doc_id") % 5 =!= 0),
      Seq("doc_id"), Seq("text", "lang", "source"))
    val p = diff.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // exactly one join in the plan (the diff is ONE pass, not per-state
    // joins); narrowness is structural — sideHash projects to (key, md5)
    // before the join inputs
    assert(p.sliding("Join".length).count(_ == "Join") == 1, p.take(1200))
  }

  // --- FastDecimalCast: double → DECIMAL funnels skip Spark's BigDecimal path

  private def planExprs(plan: LogicalPlan) = plan.collect { case p => p.expressions }.flatten
  private def fastCasts(plan: LogicalPlan) =
    planExprs(plan).flatMap(_.collect { case f: DoubleToDecimal => f })
  private def decimalCasts(plan: LogicalPlan) =
    planExprs(plan).flatMap(_.collect { case c: Cast if c.dataType.isInstanceOf[DecimalType] => c })

  /** `f` with FastDecimalCast excluded from the session's optimizer. */
  private def withoutFastCast[T](f: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, FastDecimalCast.ruleName)
    try f finally spark.conf.unset(key)
  }

  test("GraftSession.builder installs FastDecimalCast: the suite's session " +
    "was not built elsewhere first") {
    assert(spark.sessionState.optimizer.preCBORules.contains(FastDecimalCast))
    val optimized = SparkEntry.queries("q1_pricing_summary")(spark, sf).queryExecution.optimizedPlan
    // every decimal sum of q1 (sum_qty, sum_base_price, sum_disc_price,
    // sum_charge, avg_disc; avg_qty reuses sum_qty's) is rewritten
    assert(fastCasts(optimized).map(_.canonicalized).distinct.size == 5, optimized)
    assert(decimalCasts(optimized).isEmpty, optimized)
  }

  test("FastDecimalCast rewrites double-source casts only, and is idempotent") {
    val typed = spark.range(3).select(col("id").cast("double").as("d"), col("id").as("l"),
      col("id").cast("int").as("i"), col("id").cast(DecimalType(10, 2)).as("dec"),
      col("id").cast("string").as("s"))
    val casts = typed.select(typed.columns.map(c => col(c).cast(DecimalType(38, 4)).as(c)).toSeq: _*)
    val once = FastDecimalCast(casts.queryExecution.analyzed)
    assert(fastCasts(once).map(_.child.dataType.simpleString) == Seq("double"), once)
    val kept = decimalCasts(once).filter(_.dataType == DecimalType(38, 4))
      .map(_.child.dataType.simpleString)
    assert(kept.sorted == Seq("bigint", "decimal(10,2)", "int", "string"), once)
    assert(FastDecimalCast(once) == once)
    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, sf).queryExecution.optimizedPlan
    assert(FastDecimalCast(q1) == q1)
  }

  test("FastDecimalCast leaves q1/q3 scan pushdown unchanged") {
    def scans(name: String) = SparkEntry.queries(name)(spark, sf).queryExecution
      .executedPlan.toString.linesIterator.filter(_.contains("FileScan"))
      .map(_.replaceAll("#\\d+", "")).toSeq.sorted
    Seq("q1_pricing_summary", "q3_shipping_priority").foreach { q =>
      val on = scans(q)
      assert(on.exists(_.contains("PushedFilters: [IsNotNull(l_shipdate)")), on)
      assert(on == withoutFastCast(scans(q)), q)
    }
  }

  test("FastDecimalCast: funnel query results identical with the rule on and off") {
    Seq("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q18_large_orders", "a7_moments", "w1_window_running").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      assert(fastCasts(df.queryExecution.optimizedPlan).nonEmpty, q)
      val on = df.collect().toSeq
      val off = withoutFastCast {
        val slow = SparkEntry.queries(q)(spark, sf)
        assert(fastCasts(slow.queryExecution.optimizedPlan).isEmpty, q)
        slow.collect().toSeq
      }
      assert(on.nonEmpty && on == off, q)
    }
  }

  test("IVF routing embeds the same pivot literal whatever order the pivot rows arrive in") {
    val s = spark
    import s.implicits._
    val pivots = Seq((2L, Array(0f, 1f)), (1L, Array(1f, 0f)), (3L, Array(0.6f, 0.8f)))
    val corpus = Seq((10L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    def routed(rows: Seq[(Long, Array[Float])]): String =
      graft.operators.Similarity
        .ivfRoute(corpus, rows.toDF("cell_id", "pv"), "embedding", "vec_id")
        .queryExecution.analyzed.toString
        .replaceAll("#\\d+", "#").replaceAll("lambda x_\\d+", "lambda x")
    assert(routed(pivots) == routed(pivots.reverse))
  }
}
