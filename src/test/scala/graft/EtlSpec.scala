package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.ValidatingTransform
import graft.pipeline.BatchEtl
import graft.warehouse.Warehouse

/** Reject-routing precedence, idempotent warehouse semantics, and the
  * end-to-end batch pipeline, on fixtures that exercise the same branches
  * as the reference's noisy CSV (whitespace/case noise, non-numeric age,
  * under-threshold age, null fields — FIXTURES.md §1).
  */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  private val noisy = Seq(
    ("  walter ", "26", "SAN LUCAS"),   // normalize-me, valid
    ("RAMONA", "52", "san lucas"),      // case noise, same city after norm
    ("hector", "treinta", "Cali"),      // cast reject
    ("ana", "23", " valle alto"),       // business-rule reject
    ("luz", "30", "valle alto"))        // valid

  private def noisyDf = noisy.toDF("nombre", "edad", "ciudad")

  test("P8 routing: precedence and counts") {
    val r = ValidatingTransform(noisyDf, minAge = 25)
    assert(r.valid.count() == 3)
    val rejects = r.rejected.select("nombre", "motivo").as[(String, String)].collect().toMap
    assert(rejects("hector") == "Edad no convertible a int")
    assert(rejects("ana") == "Edad < 25")
  }

  test("P8 routing: null precedence beats cast") {
    val df = Seq((null.asInstanceOf[String], "abc", "x")).toDF("nombre", "edad", "ciudad")
    val r = ValidatingTransform(df, 25)
    assert(r.rejected.select("motivo").head().getString(0) == "Valor None en campo requerido")
  }

  test("P8 routing: missing required column rejects whole file") {
    val df = Seq(("a", "30")).toDF("nombre", "edad")
    val r = ValidatingTransform(df, 25)
    assert(r.valid.count() == 0)
    assert(r.rejected.select("motivo").head().getString(0) == "Faltan columnas")
  }

  test("normalization: capitalize/title applied to valid rows") {
    val r = ValidatingTransform(noisyDf, 25)
    val rows = r.valid.orderBy("nombre").as[(String, Int, String)].collect()
    assert(rows.toSeq == Seq(
      ("Luz", 30, "Valle Alto"), ("Ramona", 52, "San Lucas"), ("Walter", 26, "San Lucas")))
  }

  test("K2 idempotent append: re-run inserts zero, first writer wins") {
    val wh = new Warehouse(spark, tempDir("wh"))
    val batch1 = Seq(("Ana", 30, 1L, "run1"), ("Bo", 40, 2L, "run1"))
      .toDF("nombre", "edad", "ciudad_id", "run_id")
    val s1 = wh.idempotentAppend("fact", batch1, Seq("nombre", "edad", "ciudad_id"))
    assert(s1.inserted == 2 && s1.ignored == 0)

    // second run: one duplicate (different run_id), one new
    val batch2 = Seq(("Ana", 30, 1L, "run2"), ("Cy", 50, 1L, "run2"))
      .toDF("nombre", "edad", "ciudad_id", "run_id")
    val s2 = wh.idempotentAppend("fact", batch2, Seq("nombre", "edad", "ciudad_id"))
    assert(s2.inserted == 1 && s2.ignored == 1)

    val lineage = wh.read("fact").filter(col("nombre") === "Ana")
      .select("run_id").head().getString(0)
    assert(lineage == "run1") // duplicate kept original lineage

    // intra-batch dupes collapse too
    val batch3 = Seq(("Dee", 60, 1L, "run3"), ("Dee", 60, 1L, "run3"))
      .toDF("nombre", "edad", "ciudad_id", "run_id")
    val s3 = wh.idempotentAppend("fact", batch3, Seq("nombre", "edad", "ciudad_id"))
    assert(s3.attempted == 2 && s3.inserted == 1)
  }

  test("upsert: matched rows replaced, unmatched kept, batch dupes keep first by order") {
    val wh = new Warehouse(spark, tempDir("wh"))
    wh.upsert("t", Seq((1L, "a", "r1"), (2L, "b", "r1"), (3L, "c", "r1"))
      .toDF("k", "v", "run_id"), Seq("k"))
    // replace k=2, insert k=4; duplicate k=4 in-batch keeps lowest run
    wh.upsert("t", Seq((2L, "B", "r2"), (4L, "d", "r2"), (4L, "DD", "r3"))
      .toDF("k", "v", "run_id"), Seq("k"), orderCol = Some("run_id"))
    val out = wh.read("t").select("k", "v").as[(Long, String)]
      .collect().sorted.toSeq
    assert(out == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")), out)
    // idempotent: re-applying the same batch changes nothing
    wh.upsert("t", Seq((2L, "B", "r2"), (4L, "d", "r2"))
      .toDF("k", "v", "run_id"), Seq("k"))
    assert(wh.read("t").count() == 4)
  }

  test("partition-scoped upsert: untouched partitions' files are byte-identical") {
    val root = tempDir("wh")
    val wh = new Warehouse(spark, root)
    val init = Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"), (4L, "d", "d3"))
      .toDF("k", "v", "day")
    wh.upsert("t", init, Seq("k"), partitionCol = Some("day"))

    def files(day: String): Map[String, Long] = {
      val dir = java.nio.file.Paths.get(s"$root/t/day=$day")
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally s.close()
    }
    val d2Before = files("d2"); val d3Before = files("d3")

    // touch only d1: replace k=2, insert k=5
    wh.upsert("t", Seq((2L, "B", "d1"), (5L, "e", "d1")).toDF("k", "v", "day"),
      Seq("k"), partitionCol = Some("day"))

    // d2/d3 files untouched (same names, same mtimes); contents merged
    assert(files("d2") == d2Before && files("d3") == d3Before)
    val out = wh.read("t").select("k", "v").as[(Long, String)].collect().sorted.toSeq
    assert(out == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"), (5L, "e")), out)
  }

  test("overwrite crash window: a table stranded at __old recovers on the next open") {
    val root = tempDir("wh")
    val wh = new Warehouse(spark, root)
    wh.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // simulate a crash between overwrite's two moves: the live directory
    // has been parked at __old and the process died before the new data
    // moved in (the new data's temp dir may or may not survive — model
    // the worst case where it's gone entirely)
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$root/t"),
      java.nio.file.Paths.get(s"$root/t__old"))
    assert(wh.exists("t"), "exists() must recover the stranded table")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/t__old")))
    val rows = wh.read("t").select("k", "v").as[(Long, String)].collect().sorted.toSeq
    assert(rows == Seq((1L, "a"), (2L, "b")), rows)
    // a later overwrite on a still-stranded table must also recover
    // first and then win cleanly
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$root/t"),
      java.nio.file.Paths.get(s"$root/t__old"))
    wh.overwrite("t", Seq((9L, "z")).toDF("k", "v"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/t__old")))
    val rows2 = wh.read("t").select("k", "v").as[(Long, String)].collect().toSeq
    assert(rows2 == Seq((9L, "z")), rows2)
  }

  test("scd2: incoming snapshot with duplicate keys opens ONE current version") {
    val wh = new Warehouse(spark, tempDir("wh"))
    wh.scd2Upsert("dim", Seq((1L, "NY", "r1"), (1L, "LA", "r2"), (2L, "SF", "r1"))
      .toDF("k", "city", "run"), Seq("k"), asOf = "t1", orderCol = Some("run"))
    val cur = wh.read("dim").filter(col("is_current"))
      .select("k", "city").as[(Long, String)].collect().sorted.toSeq
    // first row per key in run order wins: k=1 -> NY
    assert(cur == Seq((1L, "NY"), (2L, "SF")), cur)
    assert(wh.read("dim").count() == 2)
  }

  test("scd2: changed keys close and reopen, history immutable, no-op snapshot") {
    val wh = new Warehouse(spark, tempDir("wh"))
    wh.scd2Upsert("dim", Seq((1L, "NY"), (2L, "SF")).toDF("k", "city"),
      Seq("k"), asOf = "t1")
    // k=1 moves; k=3 appears; k=2 unchanged
    wh.scd2Upsert("dim", Seq((1L, "LA"), (2L, "SF"), (3L, "TX")).toDF("k", "city"),
      Seq("k"), asOf = "t2")
    val rows = wh.read("dim")
      .select("k", "city", "valid_from", "valid_to", "is_current")
      .as[(Long, String, String, Option[String], Boolean)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    assert(rows == Seq(
      (1L, "NY", "t1", Some("t2"), false),
      (1L, "LA", "t2", None, true),
      (2L, "SF", "t1", None, true),
      (3L, "TX", "t2", None, true)), rows)
    // identical snapshot: nothing changes
    wh.scd2Upsert("dim", Seq((1L, "LA"), (2L, "SF"), (3L, "TX")).toDF("k", "city"),
      Seq("k"), asOf = "t3")
    assert(wh.read("dim").count() == 4)
    assert(wh.read("dim").filter(col("is_current")).count() == 3)
  }

  test("table compaction: file count drops, contents exact") {
    val wh = new Warehouse(spark, tempDir("wh"))
    // ten micro-batch appends → ten (or more) small files
    (1 to 10).foreach { i =>
      wh.idempotentAppend("fact",
        Seq((s"P$i", 20 + i, i.toLong, s"run$i")).toDF("nombre", "edad", "ciudad_id", "run_id"),
        Seq("nombre", "edad", "ciudad_id"))
    }
    val beforeRows = wh.read("fact").collect().map(_.toString).sorted.toSeq
    val (before, after) = wh.compact("fact", targetRowsPerFile = 1000000L)
    assert(before >= 10 && after == 1, s"files $before -> $after")
    val afterRows = wh.read("fact").collect().map(_.toString).sorted.toSeq
    assert(afterRows == beforeRows)
    // already-compact table: no rewrite
    val (b2, a2) = wh.compact("fact")
    assert(b2 == 1 && a2 == 1)
  }

  test("J1 dimension: surrogate ids stable across loads") {
    val wh = new Warehouse(spark, tempDir("wh"))
    val d1 = wh.ensureDimension("dim", Seq("b", "a").toDF("nombre"), "nombre", "id")
    val ids1 = d1.orderBy("id").as[(Long, String)].collect().toSeq
    assert(ids1 == Seq((1L, "a"), (2L, "b")))

    val d2 = wh.ensureDimension("dim", Seq("a", "c").toDF("nombre"), "nombre", "id")
    val ids2 = d2.orderBy("id").as[(Long, String)].collect().toSeq
    assert(ids2 == Seq((1L, "a"), (2L, "b"), (3L, "c"))) // existing ids untouched
  }

  test("K6 migration: adds lineage columns with defaults once") {
    val wh = new Warehouse(spark, tempDir("wh"))
    Seq(("Ana", 30)).toDF("nombre", "edad")
      .write.parquet(wh.root + "/personas")
    val migrated = wh.migrateIfNeeded("personas", Map(
      "processed_at" -> lit("1970-01-01T00:00:00Z"), "run_id" -> lit("MIGRATION")))
    assert(migrated)
    val row = wh.read("personas").head()
    assert(row.getAs[String]("run_id") == "MIGRATION")
    assert(!wh.migrateIfNeeded("personas", Map("run_id" -> lit("X")))) // second call no-op
  }

  test("end-to-end batch pipeline: golden counts + idempotent re-run") {
    val in = tempDir("in")
    val wh = new Warehouse(spark, tempDir("wh"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f1.csv"),
      "nombre,edad,ciudad\n  walter ,26,SAN LUCAS\nRAMONA,52,san lucas\nhector,treinta,Cali\nana,23, valle alto\nluz,30,valle alto\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f2.csv"),
      "nombre,edad,ciudad\nWalter,26,San Lucas\nnuria,44,cali\n")

    val etl = new BatchEtl(spark, wh)
    val reports = etl.run(in, rejectDir = Some(tempDir("rej")))
    assert(reports.map(_.sourceFile) == Seq("f1.csv", "f2.csv")) // sorted order
    val r1 = reports.head
    assert(r1.validCount == 3 && r1.rejectedCount == 2)
    assert(r1.insertedNew == 3 && r1.ignoredDuplicates == 0)
    val r2 = reports(1)
    assert(r2.validCount == 2 && r2.insertedNew == 1 && r2.ignoredDuplicates == 1)

    // audit identity: valid + rejected = input; inserted + ignored = valid
    reports.foreach { r =>
      assert(r.insertedNew + r.ignoredDuplicates == r.validCount)
    }

    // re-run everything: zero new inserts (idempotence, README.md:120 of ref)
    val again = etl.run(in)
    assert(again.forall(_.insertedNew == 0))
    assert(wh.read("personas_limpias").count() == 4)

    // A2 readback
    val agg = etl.cityAggregate().collect()
    val byCity = agg.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCity == Map("San Lucas" -> 2L, "Cali" -> 1L, "Valle Alto" -> 1L))

    // audit table has one row per file per run
    assert(wh.read("etl_runs").count() == 4)
  }

  test("processFile job budget: a warm file with no new city, and a replay") {
    val in = tempDir("in")
    val wh = new Warehouse(spark, tempDir("wh"))
    def write(name: String, body: String): String = {
      val p = java.nio.file.Paths.get(s"$in/$name")
      java.nio.file.Files.writeString(p, "nombre,edad,ciudad\n" + body)
      p.toString
    }
    val f1 = write("f1.csv", "walter,26,San Lucas\nluz,30,valle alto\nana,23,cali\n")
    val f2 = write("f2.csv", "nuria,44,san lucas\nhector,treinta,Valle Alto\nbo,31,VALLE ALTO\n")
    val etl = new BatchEtl(spark, wh)
    etl.processFile(f1)

    // the stages of every job started, named by call site
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString("+"))
    }
    def jobsOf(call: => BatchEtl#FileReport): (Seq[String], BatchEtl#FileReport) = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.clear()
      val r = call
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (jobs.asScala.toSeq, r)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // every count rides a job that materializes its frame, and an
      // unchanged dimension is not rewritten: a count action or a
      // surrogate-id pass brought back shows up here
      val (warmJobs, warm) = jobsOf(etl.processFile(f2))
      assert(warm.validCount == 2 && warm.rejectedCount == 1 && warm.insertedNew == 2)
      assert(warmJobs.size <= 12, s"warm file with no new city ran ${warmJobs.size} jobs: $warmJobs")
      val (replayJobs, replay) = jobsOf(etl.processFile(f1))
      assert(replay.insertedNew == 0 && replay.ignoredDuplicates == 2)
      assert(replayJobs.size <= 11, s"replay ran ${replayJobs.size} jobs: $replayJobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(wh.read("ciudades").count() == 2)
  }
}
