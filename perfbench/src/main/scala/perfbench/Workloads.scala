package perfbench

import java.io.File

import org.apache.spark.sql.functions.{median => _, _}
import org.apache.spark.sql.SparkSession

import graft.pipeline.{BatchEtl, CuratePipeline}
import graft.warehouse.Warehouse

/** One named workload: a closed loop with one client, the driver thread.
  * `setup` loads the generated inputs and warms every code path the timed
  * loop takes; `run` is the timed window of `cycles` cycles; `detail`
  * returns the workload's own end-to-end figures; `headline` names the op
  * whose median latency is the run's `call_s`.
  *
  * The window is counted in cycles, not read off the clock: a run asked
  * for `s` seconds makes `s / cycleS` cycles. So every run takes its
  * samples at the same points of the JIT's warmup curve, and a faster
  * engine gets no extra, warmer samples that would flatter its median.
  */
trait Workload {
  def headline: String
  /** The engine module the workload's calls enter. */
  def entry: String
  /** Seconds one cycle of the timed loop takes on a 4-vCPU VM. */
  def cycleS: Double
  def setup(): Unit
  def run(h: Harness, cycles: Int): Unit
  /** Input items the timed window processed (rows, queries or docs). */
  def items: Long
  def detail(h: Harness): Map[String, Any]
  /** Outputs handed to the Python-side checks. */
  def outputs: Map[String, Any] = Map.empty
}

object Workloads {
  def apply(name: String, spark: SparkSession, in: String, work: String,
            p: Map[String, Any]): Workload = name match {
    case "etl_batch" => new EtlBatch(spark, in, work)
    case "curate_corpus" => new CurateCorpus(spark, in, work)
    case "olap_scan" => new OlapScan(spark, in, work, p)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def listCsv(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".csv")).map(_.getPath).sorted.toSeq
}

import Workloads._

/** CSV batches through BatchEtl.processFile in glob order, then a replay
  * of every processed file (all duplicates), then the city aggregate.
  */
final class EtlBatch(spark: SparkSession, in: String, work: String) extends Workload {
  val headline = "etl.process_file"
  val entry = "BatchEtl"
  /** one new file and, later, its replay */
  val cycleS = 2.5
  private var rows = 0L
  private val reports = Seq.newBuilder[Map[String, Any]]
  private var aggregate: Seq[Map[String, Any]] = Nil

  private def report(kind: String, r: BatchEtl#FileReport): Map[String, Any] = {
    rows += r.validCount + r.rejectedCount
    Map("kind" -> kind, "file" -> r.sourceFile, "run_id" -> r.runId,
      "valid" -> r.validCount, "rejected" -> r.rejectedCount,
      "inserted" -> r.insertedNew, "ignored" -> r.ignoredDuplicates)
  }

  /** Every warm file, then a replay and the aggregate: the first calls
    * cost several times a warm one while the JIT compiles the planner.
    */
  def setup(): Unit = {
    val etl = new BatchEtl(spark, new Warehouse(spark, s"$work/warm_wh"))
    val warm = listCsv(s"$in/warm")
    warm.foreach(etl.processFile(_))
    warm.take(1).foreach(etl.processFile(_))
    etl.cityAggregate().collect()
  }

  def run(h: Harness, cycles: Int): Unit = {
    val etl = new BatchEtl(spark, new Warehouse(spark, s"$work/wh"))
    val done = listCsv(s"$in/files").take(cycles)
    done.foreach { f =>
      h.cycle("file") { reports += report("first", h.op(headline)(etl.processFile(f))) }
    }
    done.foreach { f =>
      h.cycle("replay") { reports += report("replay", h.op("etl.replay_file")(etl.processFile(f))) }
    }
    aggregate = h.cycle("aggregate") {
      h.op("etl.city_aggregate")(etl.cityAggregate().collect().toSeq)
    }.map(r => Map("ciudad" -> r.getString(0), "total_personas" -> r.getLong(1),
      "edad_promedio" -> r.getDouble(2)))
    h.untimed {
      val rep = reports.result()
      rep.foreach { r =>
        h.check("etl.identity", r("valid").asInstanceOf[Long] + r("rejected").asInstanceOf[Long] > 0 &&
          r("inserted").asInstanceOf[Long] + r("ignored").asInstanceOf[Long] == r("valid"),
          s"inserted + ignored != valid in $r")
        if (r("kind") == "replay")
          h.check("etl.replay_inserts_nothing", r("inserted") == 0L, s"replay inserted rows: $r")
      }
      val runs = spark.read.parquet(s"$work/wh/etl_runs").count()
      h.check("etl.audit_rows", runs == rep.size, s"etl_runs has $runs rows for ${rep.size} calls")
    }
  }

  def items: Long = rows

  def detail(h: Harness): Map[String, Any] = {
    val first = reports.result().filter(_("kind") == "first")
    val valid = first.map(_("valid").asInstanceOf[Long]).sum
    val inserted = first.map(_("inserted").asInstanceOf[Long]).sum
    Map("etl.file_s" -> median(h.durations(headline, Some(false))),
      "etl.replay_file_s" -> median(h.durations("etl.replay_file", Some(false))),
      "etl.files" -> first.size,
      "etl.insert_ratio" -> (if (valid > 0) inserted.toDouble / valid else Double.NaN))
  }

  override def outputs: Map[String, Any] =
    Map("reports" -> reports.result(), "aggregate" -> aggregate,
      "warehouse" -> s"$work/wh")
}

/** CuratePipeline.run over the generated expanded corpus, repeated. */
final class CurateCorpus(spark: SparkSession, in: String, work: String) extends Workload {
  val headline = "curate.run"
  val entry = "CuratePipeline"
  val cycleS = 9.0
  private var docs = 0L
  private var stageRuns = Seq.empty[Seq[(String, Long)]]

  private def runOnce(): Seq[(String, Long)] =
    CuratePipeline.run(spark, in)._1.map(s => (s.stage, s.docs))

  def setup(): Unit = {
    stageRuns :+= runOnce()
  }

  def run(h: Harness, cycles: Int): Unit = {
    (1 to cycles).foreach { _ =>
      val stages = h.cycle("run")(h.op(headline)(runOnce()))
      stageRuns :+= stages
      docs += stages.head._2
    }
    h.untimed {
      stageRuns.tail.foreach(s => h.check("curate.stages_repeat", s == stageRuns.head,
        s"stage counts differ between runs: $s vs ${stageRuns.head}"))
      // the pipeline returns only stage counts and packed blocks, so the
      // survivor check runs its exact-dedup operator on the same corpus
      val canon = graft.Tables.load(spark, in, "documents")
      val keep = graft.operators.Dedup.exact(canon, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val groups = spark.read.parquet(s"$in/exact_groups.parquet")
      val multi = groups.join(keep, "doc_id").groupBy("group_id").count()
        .filter(col("count") > 1).count()
      h.check("curate.exact_groups_single_survivor", multi == 0,
        s"$multi exact-duplicate groups keep more than one document")
    }
  }

  def items: Long = docs

  def detail(h: Harness): Map[String, Any] = {
    val s = median(h.durations(headline, Some(false)))
    Map("curate.docs_per_s" -> stageRuns.head.head._2 / s,
      "curate.fuzzy_survival" -> {
        val m = stageRuns.head.toMap
        m("fuzzy_dedup").toDouble / m("exact_dedup")
      })
  }

  override def outputs: Map[String, Any] =
    Map("stages" -> stageRuns.head.map { case (k, v) => Map("stage" -> k, "docs" -> v) })
}

/** A fixed set of ReferenceQueries over the generated star schema; each
  * pass runs them in a seeded order and forces results through `noop`.
  */
final class OlapScan(spark: SparkSession, in: String, work: String,
                     p: Map[String, Any]) extends Workload {
  val headline = "olap.pass"
  val entry = "ReferenceQueries"
  val cycleS = 5.0
  private val names = p("queries").asInstanceOf[Seq[String]]
  private val seed = p("seed").asInstanceOf[Number].longValue
  private var passes = 0L

  private def runQuery(q: String): Unit =
    graft.SparkEntry.queries(q)(spark, in).write.format("noop").mode("overwrite").save()

  /** One pass that writes every result for the oracle check; it also
    * compiles every query.
    */
  def setup(): Unit =
    names.foreach(q => graft.SparkEntry.queries(q)(spark, in)
      .write.mode("overwrite").parquet(s"$work/olap_out/$q"))

  def run(h: Harness, cycles: Int): Unit = {
    (1 to cycles).foreach { _ =>
      val order = new scala.util.Random(seed * 1000003L + passes).shuffle(names)
      h.cycle("pass") { h.op(headline)(order.foreach(q => h.op(s"olap.$q")(runQuery(q)))) }
      passes += 1
    }
  }

  def items: Long = passes * names.size

  def detail(h: Harness): Map[String, Any] =
    Map("olap.pass_s" -> median(h.durations(headline, Some(false)))) ++
      names.map(q => s"olap.$q.s" -> median(h.durations(s"olap.$q", Some(false))))

  override def outputs: Map[String, Any] = Map("results" -> s"$work/olap_out",
    "oracle" -> names.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
}
