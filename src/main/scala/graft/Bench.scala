package graft

/** Benchmark main — one JSON line with per-query steady-state seconds.
  *
  * Protocol: one warmup PASS over all queries absorbs one-time costs a
  * long-lived engine does not pay per query (JIT + whole-stage codegen
  * compilation, parquet footer caching, broadcast warmup); then three
  * measured PASSES over all queries, min per query reported — passes
  * rather than back-to-back repeats so multi-minute host-contention
  * windows can't pollute every sample of one query.
  * `spark.catalog.clearCache()` runs before EACH measured run, and each
  * run re-constructs the query from scratch, so operator-internal
  * materializations (shingle indexes, LSH signatures, candidate sets —
  * eager localCheckpoints since r5) are rebuilt INSIDE the measurement —
  * a measured run is the full cost of the query from cold storage, not a
  * read-through of the warmup's materialized state (r1 advice); the
  * post-run System.gc() lets the ContextCleaner reclaim the previous
  * run's checkpoint blocks. Results
  * are forced through the `noop` datasource so every projection and
  * aggregation actually executes (a bare `count()` would let Catalyst
  * prune the work away) without paying collect() or parquet-write
  * overhead.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-bench", cpus.toInt)
      // shuffle/spill on tmpfs: single-node stand-in for cluster local SSDs
      // (this VM's disk is slow and shared — it was the dominant run-to-run
      // variance source)
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark" else "/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    val names = SparkEntry.queries.keys.toSeq.sorted
    // Pass-interleaved protocol: one warmup pass over every query, then 3
    // measured passes over every query, min per query. Host-contention
    // windows on this shared VM last minutes — back-to-back runs of one
    // query land in the SAME window and its min is still polluted, while
    // interleaved passes measure each query at three well-separated times.
    // clearCache() before every measured run keeps each run paying its
    // own operator-internal materializations (r1 advice); the GC absorbs
    // freed cache blocks outside the next measurement.
    names.foreach { name => // warmup: codegen + JIT + footer cache
      try force(name) catch { case _: Throwable => () }
      spark.catalog.clearCache(); System.gc()
    }
    val best = scala.collection.mutable.Map.empty[String, Double]
    (1 to 3).foreach { _ =>
      names.foreach { name =>
        val t = try {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          force(name)
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
        spark.catalog.clearCache(); System.gc()
        best(name) = (best.get(name), t) match {
          case (Some(p), n) if n >= 0 => math.min(p, n)
          case (Some(p), _) => p
          case (None, n) => n
        }
      }
    }
    val results = names.map(n => n -> best(n))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // the driver's BENCH artifact keeps only a truncated log tail, which
    // has repeatedly cost round-over-round comparisons most of their
    // per-query numbers — also land the COMPLETE map as a flat file in
    // the repo so every number survives (r8 advice item #7)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      line.getBytes("UTF-8"))
    catch { case _: Throwable => () } // best-effort: never fail the bench
    spark.stop()
  }
}
