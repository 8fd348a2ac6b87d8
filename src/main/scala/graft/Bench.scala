package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query steady-state seconds over
  * every `SparkEntry.queries` key, also written to `BENCH_FULL.json` so the
  * complete map survives a log that keeps only its tail. The protocol is
  * [[passes]], with three measured passes.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain("graft-bench", defaultCores = 32)
    val line = totalLine(passes(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted, 3), sfDir)
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      line.getBytes("UTF-8"))
    catch { case _: Throwable => () } // best-effort: never fail the bench
    spark.stop()
  }

  /** The pass protocol: seconds per query, the min over `reps` measured
    * passes ([[best]]).
    *
    * One warmup PASS over all queries absorbs one-time costs a long-lived
    * engine does not pay per query (JIT + whole-stage codegen compilation,
    * parquet footer caching, broadcast warmup); then `reps` measured PASSES
    * over all queries — passes rather than back-to-back repeats, so a
    * host-contention window minutes long lands in one sample of a query,
    * not in all of them. `spark.catalog.clearCache()` runs before EACH
    * measured run, and each run re-constructs the query from scratch, so
    * operator-internal materializations (shingle indexes, LSH signatures,
    * candidate sets — eager localCheckpoints) are rebuilt INSIDE the
    * measurement: a measured run is the full cost of the query from cold
    * storage, not a read-through of the warmup's materialized state. The
    * post-run System.gc() lets the ContextCleaner reclaim the previous
    * run's checkpoint blocks outside the next measurement.
    */
  def passes(spark: SparkSession, sfDir: String, names: Seq[String],
             reps: Int): Seq[(String, Double)] = {
    names.foreach { name =>
      try run(spark, sfDir, name) catch { case _: Throwable => () }
      spark.catalog.clearCache(); System.gc()
    }
    val times = names.map(_ -> Vector.newBuilder[Double]).toMap
    (1 to reps).foreach { _ =>
      names.foreach { name =>
        times(name) += (try {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          run(spark, sfDir, name)
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 })
        spark.catalog.clearCache(); System.gc()
      }
    }
    names.map(n => n -> best(times(n).result()))
  }

  /** One run of a query, forced through the `noop` datasource so every
    * projection and aggregation executes (a bare `count()` would let
    * Catalyst prune the work away) without paying collect() or a parquet
    * write.
    */
  def run(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** A query's reported seconds: the min over its successful passes
    * (failed passes read -1), or -1 when every pass failed. */
  def best(times: Seq[Double]): Double = times.filter(_ >= 0).minOption.getOrElse(-1.0)

  /** `{"name":seconds,...}` in the given order. */
  def queriesJson(results: Seq[(String, Double)]): String =
    results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Bench's line; `value` sums the queries that did not fail. */
  def totalLine(results: Seq[(String, Double)], sfDir: String): String = {
    val total = results.map(_._2).filter(_ >= 0).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${queriesJson(results)},"sf":"$sfDir"}"""
  }

  /** A JSON string literal: escapes backslash, quote and every control
    * char below 0x20 (a raw tab or CR would break any JSON reader).
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
