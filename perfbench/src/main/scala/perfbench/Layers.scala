package perfbench

import Workloads.median

/** Per-layer figures of a traced run, computed after the run from the
  * spans and the [[Tracer]]'s events.
  *
  * A job belongs to every traced span its submission time falls in (a
  * closed loop with one client submits no job outside the call that
  * causes it). Per span:
  *  - `spark.job_union_s`: the union of its jobs' intervals, clipped to
  *    the span; `spark.driver_gap_s`: `span_s - job_union_s`, the span's
  *    time with no job running (an identity: the intervals are clipped to
  *    the span, so the two always add up to it);
  *  - `spark.overlap`: the sum of job durations over their union;
  *  - `spark.task_s`, `spark.shuffle_bytes` (written), `spark.spill_bytes`:
  *    task metrics of the stages its jobs ran;
  *  - `catalyst.planning_s`: analysis + optimization + planning of the
  *    queries whose analysis started in the span;
  *  - `fs.*` and `jvm.gc_s`: counter deltas across the span.
  */
object Layers {
  val Quantities: Seq[String] = Seq("span_s", "spark.jobs", "spark.job_union_s",
    "spark.driver_gap_s", "spark.overlap", "spark.task_s", "spark.shuffle_bytes",
    "spark.spill_bytes", "catalyst.planning_s", "fs.write_ops", "fs.bytes_written",
    "jvm.gc_s")

  /** `entry`: the module the workload's calls enter, which owns the jobs
    * of actions the benchmark itself calls on frames the engine built.
    */
  def apply(h: Harness, headline: String, entry: String): Map[String, Any] = {
    val t = h.tracer
    val traced = h.spans.filter(s => s != null && s.traced).toSeq
    val jobs = t.jobs.toSeq
    def within(s: Span, ms: Long) = ms >= s.startMs && ms <= s.endMs
    val accounting = Seq.newBuilder[String]

    def figures(s: Span): Map[String, Double] = {
      val js = jobs.filter(j => within(s, j.startMs))
      val iv = js.map(j => (j.startMs, if (j.endMs < 0) s.endMs else math.min(j.endMs, s.endMs)))
        .sortBy(_._1)
      // merge the intervals
      var union = 0L
      var cur = s.startMs
      iv.foreach { case (a, b) =>
        cur = math.max(cur, a)
        if (b > cur) { union += b - cur; cur = b }
      }
      // the check that can fail: a job the call started must end inside it
      js.filter(j => j.endMs < 0 || j.endMs > s.endMs + 2).foreach(j =>
        accounting += s"${s.name}#${s.id}: job ${j.id} outlives its span")
      val tasks = js.flatMap(j => j.stages.filter(st => t.stageJob.get(st).contains(j.id)))
        .flatMap(t.stageTasks.get)
      val unionS = union / 1e3
      val spanS = s.seconds
      Map("span_s" -> spanS,
        "spark.jobs" -> js.size.toDouble,
        "spark.job_union_s" -> unionS,
        // the gap in the span's own (nanosecond) clock: span - union
        "spark.driver_gap_s" -> math.max(0.0, spanS - unionS),
        "spark.overlap" -> (if (union > 0) iv.map { case (a, b) => b - a }.sum.toDouble / union else 0.0),
        "spark.task_s" -> tasks.map(_.runMs).sum / 1e3,
        "spark.shuffle_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
        "catalyst.planning_s" -> t.plans.filter(p => within(s, p.startMs)).map(_.planningMs).sum / 1e3,
        "fs.write_ops" -> (s.fs1.writeOps - s.fs0.writeOps).toDouble,
        "fs.bytes_written" -> (s.fs1.bytesWritten - s.fs0.bytesWritten).toDouble,
        "jvm.gc_s" -> (s.gc1 - s.gc0) / 1e3)
    }

    val perSpan = traced.map(s => s -> figures(s))
    val ops = perSpan.groupBy(_._1.name).map { case (name, xs) =>
      name -> (Map("n" -> xs.size.toDouble) ++
        Quantities.map(q => q -> median(xs.map(_._2(q)))))
    }
    val top = traced.filter(_.parent < 0)
    val unattributed = jobs.count(j => !top.exists(s => within(s, j.startMs)))
    val sites = jobs.groupBy(j => t.site(j).getOrElse(entry)).map { case (m, js) =>
      m -> Map("jobs" -> js.size, "job_s" -> js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3)
    }
    val jobS = jobs.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3
    val layerShare = sites.toSeq.groupBy { case (m, _) => Tracer.layerOf(m) }.map { case (l, ms) =>
      l -> (if (jobS > 0) ms.map(_._2("job_s").asInstanceOf[Double]).sum / jobS else 0.0)
    }
    val untracedMed = median(h.durations(headline, Some(false)))
    val tracedMed = median(h.durations(headline, Some(true)))
    Map("ops" -> ops, "sites" -> sites, "layer_job_share" -> layerShare,
      "aqe_job_share" -> (if (jobs.nonEmpty) jobs.count(_.mapStageJob).toDouble / jobs.size else 0.0),
      "jobs" -> jobs.size, "unattributed_jobs" -> unattributed,
      "accounting_errors" -> accounting.result(),
      "traced_call_s" -> tracedMed, "untraced_call_s" -> untracedMed,
      "overhead" -> (tracedMed / untracedMed - 1.0))
  }
}
