package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}

import Workloads.median

/** The benchmark's JVM side: one workload, one run.
  *
  * {{{
  * Main --workload <name> --inputs <dir> --work <dir> --seconds <s>
  *      --trace <0|1> --cores <n> --out <result.json>
  * }}}
  *
  * Starts the session, runs the workload's setup (input load and warmup),
  * then its timed window, then writes spans, checks, the workload's own
  * figures and — with `--trace 1` — the per-layer figures to `--out`.
  * The timing and all checks that need the session happen here; run.py
  * does the rest.
  */
object Main {
  private val mapper = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val in = a("inputs")
    val work = a("work")
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val params = mapper.readValue[Map[String, Any]](new File(s"$in/params.json"))
    val builder = graft.GraftSession.builder("perfbench", cores)
    // the traced run counts filesystem operations at the Hadoop boundary
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val result =
      try {
        val w = Workloads(a("workload"), spark, in, work, params)
        w.setup()
        val h = new Harness(spark, a.getOrElse("run-id", "run"), trace)
        // at least two cycles, so a traced run has a traced and an untraced one
        val cycles = math.max(2, math.round(a("seconds").toDouble / w.cycleS).toInt)
        var error: Option[String] = None
        try w.run(h, cycles)
        catch {
          case e: Throwable =>
            error = Some(s"${e.getClass.getName}: ${e.getMessage}")
            e.printStackTrace()
        }
        val coverage = h.spans.filter(s => s != null && s.parent < 0).map(_.seconds).sum /
          h.timedWallS
        h.check("span_coverage", coverage >= 0.95,
          s"op spans cover ${coverage * 100}% of the timed wall clock")
        val layers = if (trace) Layers(h, w.headline, w.entry) else Map.empty[String, Any]
        if (trace) {
          val errs = layers("accounting_errors").asInstanceOf[Seq[String]]
          h.check("trace.span_accounting", errs.isEmpty, errs.take(3).mkString("; "))
          h.check("trace.jobs_in_spans", layers("unattributed_jobs") == 0,
            s"${layers("unattributed_jobs")} traced jobs started outside every op span")
        }
        Map(
          "first_call_ms" -> h.firstCallMs, "headline" -> w.headline,
          "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
          "session_ms" -> sessionMs,
          "attempted" -> h.attempted, "failed" -> h.failed, "error" -> error,
          "checks" -> h.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
          "call_s" -> median(h.durations(w.headline, Some(false))),
          "calls" -> h.durations(w.headline, Some(false)).size,
          "call_samples_s" -> h.durations(w.headline),
          "timed_wall_s" -> h.timedWallS,
          "span_coverage" -> coverage,
          "items" -> w.items,
          "peak_rss_mb" -> Probes.peakRssMb(),
          "detail" -> (if (error.isEmpty) w.detail(h) else Map.empty),
          "outputs" -> (if (error.isEmpty) w.outputs else Map.empty),
          "layers" -> layers,
          "env" -> Map("master" -> spark.sparkContext.master,
            "spark" -> spark.version, "java" -> System.getProperty("java.version"),
            "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
          "spans" -> h.spans.filter(_ != null).map(s => Map("id" -> s.id, "name" -> s.name,
            "parent" -> s.parent, "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
            "seconds" -> s.seconds, "traced" -> s.traced)))
      } finally spark.stop()
    mapper.writeValue(new File(a("out")), result)
  }
}
