package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine. Every session the engine, its
  * mains and its specs create comes from [[GraftSession.builder]].
  *
  * Defaults are tuned for the harness's local[32] single-JVM mode but are
  * written the way a cluster deployment would set them: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * partitions sized to the parallelism at hand rather than the 200 default,
  * UTC session timezone for deterministic timestamp semantics.
  *
  * Spark's JVM-wide cache of compiled generated classes is sized to the
  * engine's measured working set; [[CodegenCacheEntries]] gives the
  * measurement and why the first session a JVM creates must come from
  * here.
  *
  * The builder also installs [[GraftExtensions]] (`withExtensions`): graft's
  * SQL functions, `SimplifyPyText`, `TopKStrategy` and `FastDecimalCast`,
  * the rule that keeps the reference queries' double → DECIMAL funnels off
  * Spark's per-value `Double.toString` → `BigDecimal` path. Extensions
  * reach only a session this builder creates: `getOrCreate` hands back an
  * existing session unchanged, so a session built elsewhere first runs
  * every funnel on the slow path, silently (same first-session caveat as
  * the codegen cache). `GraftExtensions.register` adds the functions and
  * rules to such a session after the fact.
  */
object GraftSession {

  /** Entries of the JVM-wide codegen cache (`spark.sql.codegen.cache.maxEntries`).
    *
    * Measured on `CuratePipeline.run` over a 320-document corpus, the
    * engine's largest lifecycle, on a 4-vCPU VM: a cold run compiles
    * 203–207 distinct classes, 1.46–1.49 MB of bytecode (about 7 KB per
    * entry). At the default of 100 entries every warm run compiled
    * 191–196 of them again, 1.6–1.7 s of Janino compilation in a 5–7 s
    * run, and a warm OLAP pass over six reference queries recompiled
    * 29–53. At 1000 entries, about 7 MB of bytecode, a curate run fits
    * with 5× headroom for the other lifecycles sharing the JVM: its warm
    * runs compile 0–4 classes, the OLAP pass 0.
    *
    * This is a static conf: Spark reads it once per JVM, when the codegen
    * cache is first built, so the FIRST session a JVM creates decides it
    * and a later builder's value is ignored.
    */
  val CodegenCacheEntries: Int = 1000

  def builder(appName: String = "graft", cores: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  /** The session of the board mains (Bench, Measure, Verify):
    * `SPARK_GRAFT_CPUS` cores (else `defaultCores`), and shuffle and spill
    * on tmpfs when the host has one — a single-node stand-in for a
    * cluster's local SSDs, since a slow shared disk was the dominant
    * run-to-run variance source.
    */
  def forMain(appName: String, defaultCores: Int): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores.toString).toInt
    val shm = new java.io.File("/dev/shm")
    val spark = builder(appName, cores)
      .config("spark.local.dir", if (shm.isDirectory) "/dev/shm/graft-spark" else "/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def getOrCreate(appName: String = "graft", cores: Int = 32): SparkSession = {
    val spark = builder(appName, cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Loaders for the harness's parquet star schema (TESTDATA.md).
  *
  * Plain `spark.read.parquet`: parquet is on `spark.sql.sources.useV1SourceList`,
  * so the executed plan is a V1 `FileScan parquet` (`FileSourceScanExec`),
  * which handles column pruning and filter pushdown — callers
  * `select`/`filter` and the scan reads only what the plan needs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Plan cache: building a parquet DataFrame lists the directory and reads
  // footers; repeated per-query loads of the same immutable table would pay
  // that again (hundreds of footer reads across a bench run). DataFrames
  // are immutable lazy plans, so reuse within a session is safe.
  private val planCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), org.apache.spark.sql.DataFrame]

  def load(spark: SparkSession, sfDir: String, name: String) =
    planCache.getOrElseUpdate((spark, s"$sfDir/$name"), {
      // events.ts has shipped in two parquet encodings across harness data
      // generations: TIMESTAMP(NANOS) (which Spark's vectorized reader only
      // accepts as int64 via nanosAsLong) and TIMESTAMP(MICROS) with
      // isAdjustedToUTC=0 (read as TIMESTAMP_NTZ). Dispatch on the schema
      // Spark actually read so either generation loads identically.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (name == "events") df.withColumn("ts", normalizeTs(df.schema("ts").dataType))
      else if (name == "embeddings")
        df.withColumn("embedding", normalizeVec(df.schema("embedding").dataType))
      else df
    })

  /** Normalize the embeddings vector column to `array<float>` regardless
    * of the parquet element width. Every graft vector expression
    * (cosine, SRP, PQ encode, quantize) reads `getFloat` on its input —
    * a regenerated fixture shipping `array<double>` would otherwise
    * break the entire ANN/dedup family the way TIMESTAMP(MICROS) broke
    * the events family in round 3 (same failure class, pinned in
    * EventsLoaderSpec / EmbeddingsLoaderSpec).
    */
  private def normalizeVec(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(FloatType, _) => col("embedding")
      case ArrayType(_, _)         => col("embedding").cast("array<float>")
      case _                       => col("embedding")
    }
  }

  /** Normalize an events `ts` column to session-zone TIMESTAMP regardless of
    * how the parquet encoded it. The session runs in UTC, so the NTZ→LTZ cast
    * is wall-clock exact.
    */
  private def normalizeTs(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    dt match {
      // int64 ts: dispatch on magnitude per value — epoch NANOS are
      // ~1.7e18, epoch MICROS ~1.7e15, three orders apart, so 1e17
      // (nanos: 1973; micros: year 5138) splits them unambiguously for
      // any plausible event time. A schema-level guess would silently be
      // 1000x off if a future harness regeneration ships plain int64
      // micros (the round-3 failure class); the CASE is map-only codegen,
      // no probe scan. Integer `div`, not `/` — nanos exceed double's
      // 2^53 exact range, so floating division would corrupt
      // microseconds.
      case LongType =>
        expr("timestamp_micros(CASE WHEN abs(ts) >= 100000000000000000 " +
          "THEN ts div 1000 ELSE ts END)")
      case TimestampNTZType => col("ts").cast(TimestampType)
      case _                => col("ts")
    }
  }

  /** Spread a narrow scan across the cluster before per-row-expensive work.
    * A small parquet file arrives as one partition; exploding/hashing it on
    * one task serializes the whole operator (and at 32 threads everything
    * else waits on it). No-op when the input is already parallel enough —
    * at real scale inputs have thousands of partitions and this never
    * shuffles.
    */
  def fanOut(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

}
