package graft

import graft.pipeline.CuratePipeline

/** The end-to-end curation chain on sf0.001: stage counts monotonically
  * non-increasing through the filters, and the final packed blocks are
  * exact (every non-final block of a stream holds exactly blockSize).
  */
class CuratePipelineSpec extends SparkSpec {

  test("curation pipeline: stages filter monotonically; packed blocks exact") {
    val (stages, packed) = CuratePipeline.run(spark, "/root/testdata/sf0.001")
    val byName = stages.map(s => s.stage -> s.docs).toMap
    assert(stages.map(_.stage) == Seq("canonicalize", "boilerplate", "quality",
      "exact_dedup", "fuzzy_dedup", "decontaminated", "mixture", "packed_blocks"))
    val docCounts = stages.dropRight(1).map(_.docs)
    assert(docCounts.head > 0)
    assert(docCounts.sliding(2).forall { case Seq(a, b) => b <= a },
      s"non-monotone: $stages")
    assert(byName("quality") < byName("boilerplate")) // the filter actually filters
    assert(byName("packed_blocks") > 0)
    val rows = packed.collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      rs.sortBy(_.getLong(1)).dropRight(1)
        .foreach(r => assert(r.getLong(2) == 512L, r))
    }
  }

  test("warm run: compiles (almost) no class again, and no stage count runs its own job") {
    // the codegen cache is JVM-wide and static: a session built anywhere
    // but GraftSession.builder before this one would have fixed it at 100
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val sfDir = "/root/testdata/sf0.001"
    val (cold, _) = CuratePipeline.run(spark, sfDir)

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val compiled0 = compiles.getCount
    val warm = try {
      val (stages, _) = CuratePipeline.run(spark, sfDir)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      stages
    } finally spark.sparkContext.removeSparkListener(listener)
    val compiled = compiles.getCount - compiled0

    assert(warm == cold)
    // a run needs ~200 generated classes; under the default 100-entry
    // cache a warm run compiled 186 of them again, here it compiles 0
    assert(compiled <= 5, s"warm run compiled $compiled classes")
    // each stage count rides its checkpoint's job: 82 jobs here, 97 when
    // every stage ran a count action after its checkpoint
    assert(jobs.get <= 83, s"warm run ran ${jobs.get} jobs")
  }

  test("maskSpans option: span_mask stage appears after fuzzy dedup and strips cross-doc spans") {
    val (stages, packed) = CuratePipeline.run(spark, "/root/testdata/sf0.001",
      maskSpans = true)
    val names = stages.map(_.stage)
    assert(names == Seq("canonicalize", "boilerplate", "quality",
      "exact_dedup", "fuzzy_dedup", "span_mask", "decontaminated",
      "mixture", "packed_blocks"))
    val byName = stages.map(s => s.stage -> s.docs).toMap
    // the rewrite only DROPS docs (fully-masked ones); survivors may
    // shrink but the doc count cannot grow
    assert(byName("span_mask") <= byName("fuzzy_dedup"))
    assert(byName("span_mask") > 0)
    assert(byName("packed_blocks") > 0)
    // blocks stay exact through the rewritten text
    packed.collect().groupBy(_.getLong(0)).foreach { case (_, rs) =>
      rs.sortBy(_.getLong(1)).dropRight(1)
        .foreach(r => assert(r.getLong(2) == 512L, r))
    }
  }

  test("unigram tokenizer option: same chain, valid blocks, different token economy") {
    val (stages, packed) = CuratePipeline.run(spark, "/root/testdata/sf0.001",
      tokenizer = "unigram")
    val byName = stages.map(s => s.stage -> s.docs).toMap
    assert(byName("packed_blocks") > 0)
    // every non-final block of a stream holds exactly blockSize tokens
    packed.collect().groupBy(_.getLong(0)).foreach { case (_, rs) =>
      rs.sortBy(_.getLong(1)).dropRight(1)
        .foreach(r => assert(r.getLong(2) == 512L, r))
    }
    // the two tokenizers' block counts differ (different piece economy) —
    // proof the option actually switches the model, not just a label
    val (bpeStages, _) = CuratePipeline.run(spark, "/root/testdata/sf0.001")
    assert(byName("packed_blocks") !=
      bpeStages.map(s => s.stage -> s.docs).toMap.apply("packed_blocks"))
    val e = intercept[IllegalArgumentException] {
      CuratePipeline.run(spark, "/root/testdata/sf0.001", tokenizer = "nope")
    }
    assert(e.getMessage.contains("bpe|unigram"))
  }

  test("sourceRank: re-publishing sources rank (symmetric pair at exactly " +
    "0.5 each), overlap-free sources are absent, an overlap-free corpus " +
    "is empty; the pipeline gate stage wires in count-visibly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val span = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      (1L, s"a1 a2 $span", "A"),   // A and B re-publish the same span
      (2L, s"b1 $span b2", "B"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", "C")) // C shares nothing
      .toDF("doc_id", "text", "source")
    val ranks = graft.operators.CorpusOps
      .sourceRank(docs, "text", "doc_id", "source")
      .select(col("source"), org.apache.spark.sql.functions.round(col("rank"), 6).as("rank"))
      .as[(String, Double)].collect().toSet
    // the 2-node symmetric graph's fixpoint is uniform 0.5 — and the
    // uniform start IS the fixpoint, so every iteration count agrees
    assert(ranks == Set(("A", 0.5), ("B", 0.5)),
      s"hub pair must rank, the clean source must be absent: $ranks")
    // no cross-source overlap at all → empty frame, not an error
    assert(graft.operators.CorpusOps.sourceRank(
      docs.filter(col("doc_id") === 3L), "text", "doc_id", "source").isEmpty)
    // pipeline wiring: the gate stage records between decontamination
    // and mixture; an unreachable cap drops nothing (count-identical)
    val (stages, _) = CuratePipeline.run(spark, "/root/testdata/sf0.001",
      sourceRankCap = Some(2.0))
    assert(stages.map(_.stage) == Seq("canonicalize", "boilerplate",
      "quality", "exact_dedup", "fuzzy_dedup", "decontaminated",
      "source_rank_gate", "mixture", "packed_blocks"))
    val byName = stages.map(s => s.stage -> s.docs).toMap
    assert(byName("source_rank_gate") == byName("decontaminated"),
      "a rank cap above the total mass (1.0) can never mark a hub")
  }

  test("privacy gate: clean corpus ships, violating corpus is blocked before packing") {
    // clean: every source carries far more than 2 docs — zero violations,
    // the gate stage records 0 and the pipeline completes
    val gate = CuratePipeline.PrivacyGate(Seq("source"), k = 2)
    val (stages, packed) = CuratePipeline.run(spark, "/root/testdata/sf0.001",
      privacyGate = Some(gate))
    val byName = stages.map(s => s.stage -> s.docs).toMap
    assert(byName("privacy_gate_violations") == 0L)
    assert(byName("packed_blocks") > 0 && packed.columns.nonEmpty)

    // violating: a k no real source group reaches — the release must be
    // BLOCKED (fail-closed), and the error names the audit that fired
    val bad = CuratePipeline.PrivacyGate(Seq("source"), k = 100000000L)
    val e = intercept[IllegalStateException] {
      CuratePipeline.run(spark, "/root/testdata/sf0.001", privacyGate = Some(bad))
    }
    assert(e.getMessage.contains("release blocked"), e.getMessage)

    // report-only mode: same violating config, failOnViolation = false —
    // the count lands in the stage report and packing still happens
    val (repStages, _) = CuratePipeline.run(spark, "/root/testdata/sf0.001",
      privacyGate = Some(bad.copy(failOnViolation = false)))
    val rep = repStages.map(s => s.stage -> s.docs).toMap
    assert(rep("privacy_gate_violations") > 0L)
    assert(rep("packed_blocks") > 0L)
  }
}
