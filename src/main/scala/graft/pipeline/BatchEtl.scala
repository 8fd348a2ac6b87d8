package graft.pipeline

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.ValidatingTransform
import graft.warehouse.{RunId, Warehouse}

/** The reference's flagship batch pipeline (SURVEY.md §3.1,
  * reference scr/etl_batch.py:174-198), Spark-first:
  *
  * driver loop over glob-sorted CSVs; per file — all-string CSV scan (S2),
  * validating transform (P8), reject CSV sink (K4), set-based dimension
  * maintenance (J1), idempotent lineage-carrying fact append (K2/K3),
  * audit row (K5). Re-running any file inserts 0 new rows and keeps the
  * original lineage (first-writer-wins, §2.9).
  *
  * The per-file driver loop is intentional: per-file run_ids, reject files
  * and audit rows are part of the reference's semantics (micro-batch-per-
  * file). Inside each file all work is set-based — validation is one
  * map-only pass, the dimension join broadcasts, the anti-join shuffles
  * only on the dedup key.
  *
  * The four audited counts launch no job of their own. Valid and
  * rejected are observed on the one checkpoint of the routed file (the
  * reject sink and the valid side both read that checkpoint); attempted
  * and inserted come from [[Warehouse.idempotentAppend]]'s checkpoints,
  * ignored is their difference. The streaming lane
  * (`IncrementalStream.run`) runs the same [[processBatch]] per
  * micro-batch.
  */
class BatchEtl(spark: SparkSession, warehouse: Warehouse, minAge: Int = 25) {

  final case class FileReport(sourceFile: String, runId: String, validCount: Long,
                              rejectedCount: Long, insertedNew: Long, ignoredDuplicates: Long)

  private val rawSchema = StructType(Seq(
    StructField("nombre", StringType), StructField("edad", StringType),
    StructField("ciudad", StringType)))

  /** All-string CSV scan — header row, UTF-8, no inference (S2). */
  def extractCsv(path: String): DataFrame =
    spark.read.option("header", "true").schema(rawSchema).csv(path)

  def processFile(path: String, rejectDir: Option[String] = None,
                  now: java.time.Instant = java.time.Instant.now()): FileReport = {
    val name = new File(path).getName
    // batch-style reject reasons (scr/etl_batch.py:58-62) — this pipeline
    // models the batch script, whose reject files the goldens pin
    processBatch(extractCsv(path), RunId.make(name, now), name, RunId.isoNow(now),
      batchReasons = true,
      rejectPath = rejectDir.map(dir => s"$dir/rejected_${name.stripSuffix(".csv")}"))
  }

  /** One batch of raw rows through validate → reject sink → dimension →
    * idempotent append → audit row, recorded under `runId` and
    * `sourceName`. `batchReasons` picks the reason vocabulary (see
    * [[ValidatingTransform.route]]); rejects are written to `rejectPath`
    * when given and non-empty.
    */
  def processBatch(raw: DataFrame, runId: String, sourceName: String, processedAt: String,
                   batchReasons: Boolean, rejectPath: Option[String] = None): FileReport = {
    val (routed, counts) = Warehouse.countedCheckpoint(
      ValidatingTransform.route(raw, minAge, batchReasons),
      "valid" -> col("motivo").isNull, "rejected" -> col("motivo").isNotNull)
    val validCount = counts("valid")
    val rejectedCount = counts("rejected")
    val valid = ValidatingTransform.valid(routed)

    if (rejectedCount > 0) rejectPath.foreach { out =>
      val rejected = ValidatingTransform.rejected(routed)
      // reference column order: sorted union of row keys
      // (scr/etl_batch.py:75 — sorted(set().union(*keys)))
      rejected.select(rejected.columns.sorted.map(col): _*)
        .coalesce(1).write.mode("overwrite")
        .option("header", "true")
        // keep raw values verbatim — the reference writes rejects as-read
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(out)
    }

    // J1: set-based dimension upsert, then broadcast join for the FK.
    // Dimension schema matches the reference: ciudades(ciudad_id, nombre).
    val dim = warehouse.ensureDimension("ciudades",
      valid.select(col("ciudad").as("nombre")), "nombre", "ciudad_id")
    val withFk = valid.join(
        broadcast(dim.select(col("ciudad_id"), col("nombre").as("ciudad"))), Seq("ciudad"))
      .select(col("nombre"), col("edad"), col("ciudad_id"),
        lit(processedAt).as("processed_at"), lit(runId).as("run_id"))

    // K2: INSERT OR IGNORE; duplicates keep the original run's lineage.
    val stats = warehouse.idempotentAppend("personas_limpias", withFk,
      Seq("nombre", "edad", "ciudad_id"))

    // K5: data-then-audit commit ordering (reference scr/etl_batch.py:148,163).
    warehouse.appendAudit("etl_runs", runId, processedAt, sourceName,
      validCount, rejectedCount, stats.inserted, stats.ignored)
    FileReport(sourceName, runId, validCount, rejectedCount, stats.inserted, stats.ignored)
  }

  /** S3: deterministic glob order drives processing (and id) order. */
  def run(inputDir: String, rejectDir: Option[String] = None): Seq[FileReport] = {
    val files = Option(new File(inputDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".csv"))
      .map(_.getPath).sorted
    files.zipWithIndex.map { case (f, i) =>
      // distinct run timestamps even within one clock tick, like the
      // reference's microsecond run ids
      processFile(f, rejectDir, java.time.Instant.now().plusNanos(i * 1000L))
    }.toSeq
  }

  /** J2/A2 readback: per-city counts and average age
    * (reference scr/etl_relational.py:198-204).
    */
  def cityAggregate(): DataFrame = {
    val fact = warehouse.read("personas_limpias")
    // alias the dimension's nombre before joining: fact.nombre is the person
    val dim = warehouse.read("ciudades")
      .select(col("ciudad_id"), col("nombre").as("ciudad"))
    fact.join(broadcast(dim), "ciudad_id")
      .groupBy(col("ciudad"))
      .agg(count(lit(1)).as("total_personas"), avg("edad").as("edad_promedio"))
      .orderBy(desc("total_personas"), col("ciudad"))
  }
}
