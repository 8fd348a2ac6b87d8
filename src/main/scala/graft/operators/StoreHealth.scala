package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Per-store operational datasheet, read from ON-DISK PROTOCOL FACTS
  * (r14 verdict #4): at 100 TB an operator watches a dashboard, not
  * directory listings — everything the graft store protocols already
  * record on disk (commit markers, supersede notes, LSM layouts, remap
  * chains, pinned moduli, gate bases, leases and the `__lease_risk`
  * stuck-shutdown marker) surfaces here as ONE queryable row per store.
  *
  * Cost shape: directory listings plus two one-row meta reads per store
  * — no data file is ever opened, so the scan is O(|stores| × dirents)
  * regardless of corpus size. Read-only by construction (safe beside a
  * live lane; the one raciness is the same transient a store swap always
  * presents to readers).
  *
  * Columns (null = not applicable to that store's shape):
  *  - `store`               caller-given name
  *  - `committed_ingests`   commit markers present
  *  - `visible_ingests`     committed minus supersede-retired
  *  - `flat_tail`           visible ingests still in the flat append
  *                          layout — the depth the compaction policy
  *                          bounds (for gate stores: ingests without a
  *                          `gate_ids` base)
  *  - `base_generations`    visible BUCKETED generations (the
  *                          incremental-compaction chain, capped at
  *                          [[StoreProtocol.MaxBaseGens]])
  *  - `remap_depth`         remap tables on the visible chain (graph
  *                          stores; read-time broadcast joins per lookup)
  *  - `pending_supersedes`  supersede notes awaiting cleanup (normally
  *                          0 — nonzero means an interrupted fold the
  *                          next compact will sweep)
  *  - `lsm_buckets`         the pinned base modulus (`meta` /
  *                          `gate_meta`)
  *  - `committed_ids`       the gate stores' exact id count (drives the
  *                          flat-vs-bucketed read policy)
  *  - `lease_holder`        current lease marker's holder (expired or
  *                          not — the TTL is wall-clock; null = none)
  *  - `lease_risk_holder`   holder named by a `__lease_risk` marker (a
  *                          shutdown whose in-flight renew may have
  *                          stranded an orphan lease; null = none)
  */
object StoreHealth {

  private val schema = StructType(Seq(
    StructField("store", StringType, nullable = false),
    StructField("committed_ingests", IntegerType, nullable = false),
    StructField("visible_ingests", IntegerType, nullable = false),
    StructField("flat_tail", IntegerType, nullable = false),
    StructField("base_generations", IntegerType, nullable = false),
    StructField("remap_depth", IntegerType, nullable = false),
    StructField("pending_supersedes", IntegerType, nullable = false),
    StructField("lsm_buckets", IntegerType, nullable = true),
    StructField("committed_ids", LongType, nullable = true),
    StructField("lease_holder", StringType, nullable = true),
    StructField("lease_risk_holder", StringType, nullable = true)))

  /** One row per (name, dir); a dir that does not exist yet reads as an
    * empty store (a takedown feed can outrun the first build — the
    * dashboard should show the lane, not crash).
    */
  def scan(spark: SparkSession, stores: Seq[(String, String)]): DataFrame = {
    val rows = stores.map { case (name, dir) => rowOf(spark, name, dir) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def rowOf(spark: SparkSession, name: String, dir: String): Row = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root))
      return Row(name, 0, 0, 0, 0, 0, 0, null, null, null,
        riskHolderOf(fs, dir).orNull)
    val committed = StoreProtocol.committedKeys(fs, root)
    val visible = StoreProtocol.visibleKeys(fs, root)
    val pending = {
      val sup = new Path(root, "_supersedes")
      if (fs.exists(sup)) fs.listStatus(sup).length else 0
    }
    // layout detection by the protocol's own table names: the hash-keyed
    // LSM stores split flat/bucketed on their primary table, every other
    // store on its gate_ids base (absent: every ingest is flat)
    val lsmTable = Seq("span_docs", "labels")
      .find(t => fs.exists(new Path(root, t))).getOrElse("gate_ids")
    val (gens, flat) =
      StoreProtocol.splitLsmLayout(fs, s"$dir/$lsmTable", visible)
    val remapDepth = {
      val r = new Path(root, "remap")
      if (!fs.exists(r)) 0
      else visible.count(k => fs.exists(new Path(s"$dir/remap/ingest=$k")))
    }
    val metaP = new Path(root, "meta")
    val gateMetaP = new Path(root, "gate_meta")
    val (buckets: Option[Int], gateIds: Option[Long]) =
      if (fs.exists(metaP)) {
        val m = spark.read.parquet(metaP.toString)
        (Some(StoreProtocol.pinnedLsmBuckets(m)), None)
      } else if (fs.exists(gateMetaP)) {
        val m = spark.read.parquet(gateMetaP.toString)
        val ids =
          if (m.schema.fieldNames.contains("committed_ids"))
            Some(m.head().getLong(m.schema.fieldIndex("committed_ids")))
          else None
        (Some(StoreProtocol.pinnedLsmBuckets(m)), ids)
      } else (None, None)
    Row(name, committed.length, visible.length, flat.length, gens.length,
      remapDepth, pending, buckets.orNull, gateIds.orNull,
      Lease.holderOf(spark, dir).map(_._1).orNull,
      riskHolderOf(fs, dir).orNull)
  }

  /** First line (the holder) of a `__lease_risk` sibling marker. */
  private def riskHolderOf(fs: org.apache.hadoop.fs.FileSystem,
                           dir: String): Option[String] = {
    val p = Lease.orphanRiskPath(dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .toSeq.headOption.map(_.trim)
      finally in.close()
    }
  }
}
