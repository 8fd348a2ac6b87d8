package graft

import org.apache.spark.sql.functions._

import graft.operators.{GraphStore, Lease, SpanStore, StoreHealth}

/** The store-health datasheet's wall-clock-dependent faces — the ones
  * the VALUES-oracled `store_health` board query deliberately leaves
  * null: a LIVE lease's holder, a stuck shutdown's `__lease_risk`
  * marker surfacing (r14 verdict #4's StreamingSpec-style case), and
  * the not-yet-built lane rendering as an empty row.
  */
class StoreHealthSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_health_t").toString

  test("a live lease's holder and a stuck lane's __lease_risk marker " +
    "surface in the datasheet; releasing/clearing nulls them again") {
    val dir = tmp() + "/store"
    SpanStore.append(spark,
      dir, Seq((1L, "a1 a2 a3 a4 a5 a6 a7 a8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8)
    Lease.acquire(spark, dir, "lane-7", ttlMs = 600000)
    // the stuck-shutdown path's own writer (what a wedged heartbeat
    // leaves behind) — the datasheet must read it back verbatim
    Lease.recordOrphanRisk(spark, dir, "lane-9", 30000)
    val row = StoreHealth.scan(spark, Seq(("s", dir))).head()
    assert(row.getAs[String]("lease_holder") == "lane-7")
    assert(row.getAs[String]("lease_risk_holder") == "lane-9")
    assert(row.getAs[Int]("committed_ingests") == 1 &&
      row.getAs[Int]("flat_tail") == 1)
    Lease.release(spark, dir, "lane-7")
    val p = Lease.orphanRiskPath(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    val clean = StoreHealth.scan(spark, Seq(("s", dir))).head()
    assert(clean.isNullAt(clean.fieldIndex("lease_holder")))
    assert(clean.isNullAt(clean.fieldIndex("lease_risk_holder")))
  }

  test("a store parked mid-swap (dir absent, dir__old present) reads as " +
    "its unparked self, and the scan leaves it parked") {
    val dir = tmp() + "/store"
    SpanStore.append(spark, dir,
      Seq((1L, "a1 a2 a3 a4 a5 a6 a7 a8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8)
    SpanStore.append(spark, dir,
      Seq((2L, "b1 b2 b3 b4 b5 b6 b7 b8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8)
    val live = StoreHealth.scan(spark, Seq(("s", dir))).head()
    assert(live.getAs[Int]("committed_ingests") == 2)
    // the state a crash between swapInto's two renames leaves
    val root = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + "__old")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(root, old))
    assert(StoreHealth.scan(spark, Seq(("s", dir))).head() == live)
    assert(!fs.exists(root) && fs.exists(old),
      "the datasheet must not heal: a live writer may be mid-swap")
  }

  test("a not-yet-built lane renders as an empty row (a takedown feed " +
    "can outrun the first build); an interrupted fold's pending note " +
    "is counted") {
    val base = tmp()
    val missing = StoreHealth.scan(spark, Seq(("m", s"$base/nope"))).head()
    assert(missing.getAs[Int]("committed_ingests") == 0 &&
      missing.isNullAt(missing.fieldIndex("lsm_buckets")))
    // a graph store with a pending supersede note (manufactured
    // interrupted-cleanup state: note present for a committed key)
    val dir = s"$base/graph"
    GraphStore.append(spark, dir, Seq((1L, 2L)).toDF("a", "b"),
      lsmBuckets = 8)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_commits"))
      .map(_.getPath.getName).head
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_supersedes"))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/_supersedes/$key"), true)
    out.write("some_retired_key".getBytes("UTF-8")); out.close()
    val row = StoreHealth.scan(spark, Seq(("g", dir))).head()
    assert(row.getAs[Int]("pending_supersedes") == 1)
    assert(row.getAs[Int]("lsm_buckets") == 8)
  }
}
