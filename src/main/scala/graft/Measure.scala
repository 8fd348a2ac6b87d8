package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.ListenerBus

/** Measures named queries in a session built like Bench's. First
  * [[Bench.passes]] with `reps` measured passes, printed as one
  * `{"metric":"min",...}` line of per-query minimums: the line an
  * interleaved A/B of two build trees compares. Then one extra run per
  * query under a `SparkListener`, kept off the timed passes, printed as
  * one `{"query":...}` line: build / plan / exec seconds (constructing the
  * DataFrame, physical planning, running it through `noop`), job count,
  * summed job seconds, and the slowest jobs with the call site of the SQL
  * execution that launched each (an adaptive query stage runs on a pool
  * thread with no call site of its own). A failed query reads -1 in the
  * min line and carries its error in its job line.
  *
  * Usage: runMain graft.Measure <sfDir> <reps> <query> [query ...]
  */
object Measure {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args(1).toIntOption.exists(_ >= 1), "usage: Measure <sfDir> <reps> <query...>")
    val (sfDir, reps, names) = (args(0), args(1).toInt, args.drop(2).toSeq)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    val spark = GraftSession.forMain("graft-measure", defaultCores = 32)
    println(minLine(Bench.passes(spark, sfDir, names, reps), reps, sfDir))
    val jobs = new JobLog
    spark.sparkContext.addSparkListener(jobs)
    names.foreach { name =>
      println(try profile(spark, sfDir, name, jobs) catch { case e: Throwable =>
        s"""{"query":"$name","error":${Bench.jsonString(String.valueOf(e.getMessage))}}"""
      })
    }
    spark.sparkContext.removeSparkListener(jobs)
    spark.stop()
  }

  def minLine(results: Seq[(String, Double)], reps: Int, sfDir: String): String =
    s"""{"metric":"min","unit":"sec","reps":$reps,"queries":${Bench.queriesJson(results)},"sf":"$sfDir"}"""

  private def secs(nanos: Long): Double = math.round(nanos / 1e6) / 1e3

  private def profile(spark: SparkSession, sfDir: String, name: String, jobs: JobLog): String = {
    spark.catalog.clearCache(); System.gc()
    ListenerBus.drain(spark.sparkContext)
    jobs.clear()
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    ListenerBus.drain(spark.sparkContext)
    spark.catalog.clearCache(); System.gc()
    val done = jobs.finished
    val slowest = done.sortBy(-_._2).take(5).map { case (id, ms, site) =>
      s"""{"job":$id,"s":${ms / 1e3},"site":${Bench.jsonString(site)}}"""
    }
    s"""{"query":"$name","build_s":${secs(t1 - t0)},"plan_s":${secs(t2 - t1)},""" +
      s""""exec_s":${secs(t3 - t2)},"jobs":${done.size},"job_s":${done.map(_._2).sum / 1e3},""" +
      s""""slowest":${slowest.mkString("[", ",", "]")}}"""
  }

  /** Every job that ended since [[clear]]: (job id, milliseconds between the
    * scheduler's start and end events, call site of its SQL execution, else
    * of its final stage). */
  private final class JobLog extends SparkListener {
    private val execSite = scala.collection.mutable.Map.empty[Long, String]
    private val started = scala.collection.mutable.Map.empty[Int, (Long, String)]
    private val ended = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized(execSite(s.executionId) = s.description)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      started(e.jobId) = (e.time, exec.flatMap(id => execSite.get(id.toLong))
        .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("?")(_.name)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t, site) => ended += ((e.jobId, e.time - t, site)) }
    }
    def clear(): Unit = synchronized { started.clear(); ended.clear() }
    def finished: Seq[(Int, Long, String)] = synchronized(ended.toList)
  }
}
