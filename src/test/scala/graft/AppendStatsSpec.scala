package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.warehouse.Warehouse

/** `idempotentAppend`'s observed counts against the count-action
  * formulation they replaced: `attempted` = rows offered, `inserted` =
  * the deduped batch anti-joined against the committed table, both
  * counted by plain actions before the append. Every append below also
  * checks inserted + ignored = attempted and, when nothing is inserted,
  * that no parquet file was added.
  */
class AppendStatsSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("run", "k")

  private def rows(run: String, ks: Seq[Int], tag: String = "a"): DataFrame =
    ks.map(k => (run, k.toLong, s"$tag$k")).toDF("run", "k", "v")

  private def parquetFiles(dir: String): Set[String] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Set.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
  }

  private def expected(wh: Warehouse, table: String, incoming: DataFrame,
                       orderCol: Option[String]): (Long, Long) = {
    val deduped = orderCol match {
      case Some(c) =>
        incoming.withColumn("__rn",
            row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(col(c))))
          .filter(col("__rn") === 1).drop("__rn")
      case None => incoming.dropDuplicates(keys)
    }
    val insertSet = wh.readIfExists(table) match {
      case Some(existing) => deduped.join(existing.select(keys.map(col): _*), keys, "left_anti")
      case None => deduped
    }
    (incoming.count(), insertSet.count())
  }

  private def append(wh: Warehouse, table: String, incoming: DataFrame, offered: Long,
                     orderCol: Option[String] = None,
                     partitionCol: Option[String] = None): wh.AppendStats = {
    val (attempted, inserted) = expected(wh, table, incoming, orderCol)
    val before = parquetFiles(s"${wh.root}/$table")
    val s = wh.idempotentAppend(table, incoming, keys, orderCol, partitionCol)
    assert(s.attempted == offered && s.attempted == attempted, s)
    assert(s.inserted == inserted, s)
    assert(s.inserted + s.ignored == s.attempted, s)
    if (s.inserted == 0)
      assert(parquetFiles(s"${wh.root}/$table") == before, s"an empty insert set wrote files: $s")
    s
  }

  test("orderCol: first row per key wins; replay inserts nothing, writes nothing") {
    val wh = new Warehouse(spark, tempDir("as_order"))
    // k=1 offered twice in one batch: the lower `v` wins
    val batch = rows("r1", Seq(1, 2, 3), "b").unionByName(rows("r1", Seq(1), "a"))
    assert(append(wh, "t", batch, 4, orderCol = Some("v")).inserted == 3)
    assert(wh.read("t").filter(col("k") === 1).select("v").as[String].collect().toSeq == Seq("a1"))
    val replay = append(wh, "t", batch, 4, orderCol = Some("v"))
    assert(replay.inserted == 0 && replay.ignored == 4)
  }

  test("partitionCol: partitioned table and the flat-table degrade") {
    val wh = new Warehouse(spark, tempDir("as_part"))
    assert(append(wh, "p", rows("r1", 1 to 5), 5, partitionCol = Some("run")).inserted == 5)
    assert(append(wh, "p", rows("r1", 3 to 8), 6, partitionCol = Some("run")).inserted == 3)
    assert(append(wh, "p", rows("r2", 1 to 2), 2, partitionCol = Some("run")).inserted == 2)
    assert(append(wh, "p", rows("r1", 1 to 8), 8, partitionCol = Some("run")).inserted == 0)
    // born flat: a later partitionCol request degrades to the flat path
    assert(append(wh, "f", rows("r1", 1 to 5), 5).inserted == 5)
    assert(append(wh, "f", rows("r2", 1 to 5), 5, partitionCol = Some("run")).inserted == 5)
    assert(append(wh, "f", rows("r1", 1 to 5), 5, partitionCol = Some("run")).inserted == 0)
    assert(!new java.io.File(s"${wh.root}/f").listFiles().exists(_.getName.startsWith("run=")))
    assert(wh.read("f").count() == 10)
  }

  test("empty input: zero stats, no table created, nothing written to an existing one") {
    val wh = new Warehouse(spark, tempDir("as_empty"))
    val empty = rows("r1", Nil)
    assert(append(wh, "t", empty, 0) == wh.AppendStats(0, 0, 0))
    assert(!wh.exists("t"))
    append(wh, "t", rows("r1", 1 to 3), 3)
    assert(append(wh, "t", empty, 0, partitionCol = Some("run")) == wh.AppendStats(0, 0, 0))
    // an empty frame that is not a local relation: a filtered table scan
    assert(append(wh, "t", wh.read("t").filter(col("k") < 0), 0) == wh.AppendStats(0, 0, 0))
    assert(wh.read("t").count() == 3)
  }

  test("local-relation and table-scan inputs; an all-duplicate replay of either") {
    val wh = new Warehouse(spark, tempDir("as_src"))
    assert(append(wh, "src", rows("r1", 1 to 20), 20).inserted == 20)
    // a scan of another table as input (not a local relation)
    val scanned = wh.read("src")
    assert(append(wh, "t", scanned, 20).inserted == 20)
    assert(append(wh, "t", scanned, 20).inserted == 0)
    // a local relation overlapping the committed rows
    val local = rows("r1", 15 to 30)
    assert(append(wh, "t", local, 16).inserted == 10)
    assert(append(wh, "t", local, 16).inserted == 0)
    assert(wh.read("t").count() == 30)
  }
}
