package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The timed side of one run: spans, the trace toggle and the checks.
  *
  * Every engine call in the timed window goes through [[op]]. With
  * `trace` set, every other cycle runs with the [[Tracer]] registered
  * (odd cycles traced, even cycles untraced), so one run yields both the
  * per-layer numbers and the untraced medians the tracing overhead is
  * taken against. Work that is not the workload's — draining the listener
  * bus, output checks, store walks — runs in [[untimed]] and is taken out
  * of the timed wall clock.
  */
final class Harness(val spark: SparkSession, val runId: String, trace: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val tracer = new Tracer(spark)
  private val stack = mutable.Stack.empty[Int]
  private var tracing = false
  private val cycles = mutable.HashMap.empty[String, Int]
  var attempted = 0L
  var failed = 0L
  var firstCallMs: Long = -1L
  private var windowStartNs = -1L
  private var windowEndNs = -1L
  private val excluded = mutable.ArrayBuffer.empty[(Long, Long)]

  def op[A](name: String)(body: => A): A = {
    if (firstCallMs < 0) firstCallMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (windowStartNs < 0) windowStartNs = t0
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val fs0 = if (tracing) Probes.fs() else null
    val gc0 = if (tracing) Probes.gcMs() else 0L
    val ms0 = System.currentTimeMillis()
    stack.push(id)
    spans += null // reserve the id; children append after it
    attempted += 1
    try body
    catch { case e: Throwable => failed += 1; throw e }
    finally {
      stack.pop()
      val ms1 = System.currentTimeMillis()
      val t1 = System.nanoTime()
      spans(id) = Span(id, name, parent, runId, t0, t1, ms0, ms1, tracing,
        fs0, if (tracing) Probes.fs() else null, gc0,
        if (tracing) Probes.gcMs() else 0L)
      windowEndNs = t1
    }
  }

  /** One unit of the workload's loop. When tracing, the 1st, 3rd, ...
    * cycle of each `kind` is traced and the others are not.
    */
  def cycle[A](kind: String)(body: => A): A = {
    val n = cycles.getOrElse(kind, 0) + 1
    cycles(kind) = n
    val traced = trace && n % 2 == 1
    if (traced) untimed { tracer.on() }
    tracing = traced
    try body
    finally {
      tracing = false
      if (traced) untimed { tracer.off() }
    }
  }

  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally excluded += ((t0, System.nanoTime()))
  }

  /** Outside the timed window; a false check counts as a failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    attempted += 1
    if (!ok) failed += 1
  }

  /** First timed call's start to last timed call's end, less the
    * untimed work in between.
    */
  def timedWallS: Double =
    if (windowStartNs < 0) 0.0
    else (windowEndNs - windowStartNs - excluded.iterator.map { case (a, b) =>
      math.max(0L, math.min(b, windowEndNs) - math.max(a, windowStartNs)) }.sum) / 1e9

  def durations(name: String, traced: Option[Boolean] = None): Seq[Double] =
    spans.iterator.filter(s => s != null && s.name == name &&
      traced.forall(_ == s.traced)).map(_.seconds).toSeq
}
