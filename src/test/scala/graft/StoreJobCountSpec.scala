package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.{GraphStore, Retrieval, SpanStore}

/** Job budgets for the store reads whose one-row `meta` table the
  * store view reads once: a warm `GraphStore.labels` / `componentOf`,
  * `SpanStore.probe` and `Retrieval.appendBm25Incremental` call. Each
  * meta read costs two jobs (footer inference, then the `head()`), so a
  * second read of the same meta shows up as two extra jobs here.
  */
class StoreJobCountSpec extends SparkSpec {
  import spark.implicits._

  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(e.stageInfos.map(_.name).mkString("+"))
  }

  /** The jobs `call` starts, by their stages' call sites. */
  private def jobsOf(call: => Any): Seq[String] = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    jobs.clear()
    spark.sparkContext.addSparkListener(listener)
    try {
      call
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def assertJobs(op: String, budget: Int)(call: => Any): Unit = {
    call // warm
    val seen = jobsOf(call)
    assert(seen.size <= budget, s"$op ran ${seen.size} jobs: $seen")
  }

  test("GraphStore.labels and componentOf read meta once") {
    val dir = tempDir("graft_jobs_graph") + "/store"
    GraphStore.append(spark, dir, Seq((1L, 2L), (10L, 11L)).toDF("a", "b"),
      lsmBuckets = 8)
    GraphStore.append(spark, dir, Seq((2L, 10L), (20L, 21L)).toDF("a", "b"))
    assertJobs("labels", 4)(GraphStore.labels(spark, dir))
    assertJobs("componentOf", 8)(
      GraphStore.componentOf(spark, dir, Seq(2L, 21L).toDF("n")))
  }

  test("SpanStore.probe reads meta once") {
    val dir = tempDir("graft_jobs_span")
    SpanStore.append(spark, dir,
      Seq((1L, "s1 s2 s3 s4 s5 s6 s7 s8 s9"), (2L, "c1 c2 c3 c4 c5 c6 c7 c8"))
        .toDF("doc_id", "text"), "text")
    val batch = Seq((3L, "q1 s1 s2 s3 s4 s5 s6 s7 s8")).toDF("doc_id", "text")
    assertJobs("probe", 11)(SpanStore.probe(spark, dir, batch, "text"))
  }

  test("Retrieval.appendBm25Incremental reads meta once") {
    val dir = tempDir("graft_jobs_bm25")
    Retrieval.appendBm25Incremental(spark, dir,
      Seq((1L, "red fox jumps")).toDF("doc_id", "text"), "text")
    var next = 1L
    assertJobs("appendBm25Incremental", 19) {
      next += 1
      Retrieval.appendBm25Incremental(spark, dir,
        Seq((next, s"lazy dog $next")).toDF("doc_id", "text"), "text")
    }
  }
}
