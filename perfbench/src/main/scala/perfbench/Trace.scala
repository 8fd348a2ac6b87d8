package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Times are driver-side: `*Ns` from the monotonic clock
  * for durations, `*Ms` from the wall clock so listener events (which carry
  * wall-clock milliseconds) can be placed inside a span. `parent` is the
  * id of the enclosing span or -1. Traced spans also snapshot the Hadoop
  * FileSystem counters and the GC time at both ends.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      traced: Boolean, fs0: Fs, fs1: Fs, gc0: Long, gc1: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class Fs(writeOps: Long, bytesWritten: Long)

object Probes {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans

  def gcMs(): Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Write operations from [[CountingFs]], bytes written from the Hadoop
    * FileSystem statistics, summed over every scheme in use.
    */
  def fs(): Fs = {
    var b = 0L
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator()
    while (it.hasNext)
      b += Option(it.next().getLong("bytesWritten")).map(_.longValue).getOrElse(0L)
    Fs(CountingFs.writeOps.get, b)
  }

  /** Driver high-water resident set, from /proc (Linux). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** The traced pass's listeners. Registered only around traced calls, so
  * untraced calls pay nothing; [[off]] drains the listener bus before it
  * unregisters, so no event of a traced call is lost.
  *
  *  - a SparkListener keeps jobs (interval, stages, SQL execution id),
  *    per-stage task metrics and the call site of every SQL execution;
  *  - a QueryExecutionListener keeps the Catalyst phase times read from
  *    each query's QueryPlanningTracker.
  */
final class Tracer(spark: SparkSession) {
  final case class Job(id: Int, startMs: Long, var endMs: Long, execId: Long,
                       stages: Seq[Int], mapStageJob: Boolean, stageSite: String)
  final case class Tasks(var runMs: Long = 0, var shuffleWrite: Long = 0,
                         var spill: Long = 0)
  final case class Plan(startMs: Long, planningMs: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stageTasks = mutable.HashMap.empty[Int, Tasks]
  /** execution id -> (root execution id, long call site) */
  val executions = mutable.HashMap.empty[Long, (Long, String)]
  val plans = mutable.ArrayBuffer.empty[Plan]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      val last = e.stageInfos.maxBy(_.stageId)
      val j = Job(e.jobId, e.time, -1L, exec, e.stageIds,
        org.apache.spark.PerfbenchBus.isMapStage(last), last.details)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val t = stageTasks.getOrElseUpdate(e.stageId, Tasks())
      if (m != null) {
        t.runMs += m.executorRunTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        val root = s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(s.executionId)
        executions(s.executionId) = (root, s.details)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = synchronized {
      val phases = qe.tracker.phases
      if (phases.nonEmpty)
        plans += Plan(phases.values.map(_.startTimeMs).min,
          phases.values.map(_.durationMs).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def on(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def off(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** The graft module a job's work belongs to: the innermost frame of a
    * listed module in the long call site of the job's root SQL execution
    * (AQE stage jobs share their execution's id, so they inherit it), or
    * of the job's final stage when the job runs outside SQL. None when the
    * action was called from outside the engine (the benchmark forcing a
    * frame the engine built).
    */
  def site(j: Job): Option[String] = {
    val details =
      if (j.execId >= 0) executions.get(j.execId).map { case (root, d) =>
        executions.get(root).map(_._2).getOrElse(d) }.getOrElse(j.stageSite)
      else j.stageSite
    Tracer.moduleOf(details)
  }
}

object Tracer {
  val Modules: Seq[String] = Seq("Warehouse", "ValidatingTransform", "BatchEtl",
    "RetrievePipeline", "CuratePipeline", "Retrieval", "AnnIndex", "StoreProtocol",
    "Lease", "Dedup", "QualityModel", "Bpe", "TokenizerArtifact", "CorpusOps",
    "Decontam", "TextAnalysis", "ReferenceQueries")

  /** Repo layer of each module, the per-layer metric prefix. */
  def layerOf(module: String): String = module match {
    case "BatchEtl" | "RetrievePipeline" | "CuratePipeline" => "pipeline"
    case "Warehouse" => "warehouse"
    case "ReferenceQueries" => "queries"
    case _ => "operators"
  }

  /** A graft frame, e.g. `graft.warehouse.Warehouse.read(Warehouse.scala:75)`. */
  private val Frame = """\s*graft\.[\w.$]+\(([A-Za-z]+)\.scala:\d+\)""".r

  def moduleOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.split("\n")).collectFirst {
      case Frame(file) if Modules.contains(file) => file
    }
}
