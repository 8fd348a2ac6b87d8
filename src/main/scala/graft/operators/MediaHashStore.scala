package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted perceptual-hash store for streaming media dedup — the index
  * behind [[graft.streaming.IncrementalStream.mediaDedupIngest]].
  *
  * Layout: ONE FLAT ROW PER UNIT (ids + 72-cell grid + 64-bit dHash —
  * payloads never enter the store), range-laid on the unit id at
  * [[compact]] time. The screen ([[screenUnits]] = [[Dedup.dhashScreen]]
  * against this table) explodes pigeonhole block keys ON THE FLY on the
  * scanned rows and joins the BROADCAST batch — one store scan per
  * micro-batch, amortized over the batch (per-unit cost = store/|batch|),
  * no store shuffle, no reducer funnel, and the Hamming bound is a free
  * per-screen parameter because nothing about the banding is frozen on
  * disk.
  *
  * A banded-on-disk variant (rows exploded per block, parquet
  * partitioned by a 1024-way band bucket, screens pruned to the batch's
  * buckets) was built and MEASURED first — and rejected: full-recall
  * screening must consider candidates from EVERY block, so bucket
  * pruning only helps when blocks·|batch| ≪ buckets (service-sized
  * batches under ~64 units), while every other screen pays the blocks-×
  * row explosion in I/O plus the small-file/listing overhead of 1024
  * partition directories. At 1M units the flat scan beat the banded
  * store 2.2 s vs 4.3 s on an 8-unit batch and 1.4 s vs 14.2 s on a
  * 10k-unit batch (SURVEY.md §8.8) — the same shape, not a tuning
  * artifact: banding-on-disk multiplies the bytes every screen reads to
  * save a fraction it can rarely save. The flat layout is the one that
  * survives the scale-up.
  *
  * Crash discipline: `meta` is written LAST on the first append (its
  * presence commits the store — the TokenizerArtifact pattern), an
  * uncommitted `hashes/` found without `meta` is deleted as debris, and
  * [[compact]] swaps directories through the shared `__old` protocol
  * ([[read]] heals a crash between the two renames).
  */
object MediaHashStore {

  /** The store with a `hashes` swap parked at `__old` healed. */
  private def opened(spark: SparkSession, dir: String) =
    StoreProtocol.open(spark, dir, "hashes")

  /** Does `dir` hold a committed store? (meta marker present) */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val meta = new org.apache.hadoop.fs.Path(s"$dir/meta")
    meta.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(meta)
  }

  /** Append a batch of unit hashes (columns: ids…, grid, dhash; null
    * hashes must already be filtered). The first append commits the
    * store by writing `meta` LAST; an uncommitted `hashes/` directory
    * found before that commit is a crashed append's debris and is
    * deleted (it would otherwise resurface as committed rows).
    *
    * The append itself is STAGED: the batch writes to a side directory
    * and a single rename moves it under `hashes/` as a subdirectory —
    * the directory rename is the commit, so a crash mid-append lands
    * ALL of a batch's rows or NONE of them. A plain parquet append
    * could land only some of a multi-frame doc's rows; on replay the
    * screen would then drop the whole doc (any frame matches its
    * partial copy at distance 0) and the missing frames would never
    * enter the store — a permanent silent weakening of future screens
    * (r9 advice). [[read]] lists leaf files recursively, so batch
    * subdirectories and compaction's flat layout coexist.
    */
  def append(spark: SparkSession, dir: String, hashes: DataFrame): Unit = {
    import spark.implicits._
    val fs = opened(spark, dir).fs
    val hashesDir = new org.apache.hadoop.fs.Path(s"$dir/hashes")
    if (!exists(spark, dir)) fs.delete(hashesDir, true)
    val stage = new org.apache.hadoop.fs.Path(s"$dir/hashes__stage")
    fs.delete(stage, true) // a crashed append's debris (single writer)
    hashes.write.mode("overwrite").parquet(stage.toString)
    fs.mkdirs(hashesDir)
    // unique batch subdir: uniqueness is all the name owes (replay
    // idempotency is the SCREEN's job — a re-delivered doc's frames
    // rematch their committed copies at distance 0 and never reach here)
    val batchDir = new org.apache.hadoop.fs.Path(hashesDir,
      s"b_${java.util.UUID.randomUUID().toString.take(12)}")
    if (!fs.rename(stage, batchDir))
      throw new IllegalStateException(
        s"MediaHashStore.append: cannot commit $stage into $batchDir")
    if (!exists(spark, dir))
      Seq(1).toDF("v")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Read the COMMITTED store's unit rows. Refuses an uncommitted
    * directory for the same reason append deletes one: rows written by
    * a first append that crashed before its meta commit are debris the
    * next append will erase, not data.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    require(exists(spark, dir), s"MediaHashStore: no committed store at $dir")
    opened(spark, dir)
    // recursive lookup: appends commit as batch SUBDIRECTORIES (the
    // staged-rename protocol), compaction writes flat files — both are
    // plain leaf-file layouts, no partition inference wanted
    spark.read.option("recursiveFileLookup", "true").parquet(s"$dir/hashes")
  }

  /** Screen a batch of unit hashes against the committed store: returns
    * (id_a = batch unit id, id_b = store unit id, hamming, grid_l1) for
    * every batch unit within `maxHamming` AND `maxL1` of a committed
    * one. One store scan, batch broadcast, full recall at the bound
    * (pigeonhole) — which is what makes the screen its own re-delivery
    * guard (a re-delivered unit rematches its committed copy at
    * distance 0).
    */
  def screenUnits(spark: SparkSession, dir: String, batch: DataFrame,
                  idCol: String, maxHamming: Int = 3,
                  maxL1: Double = 12750.0,
                  maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    require(exists(spark, dir), s"MediaHashStore: no committed store at $dir")
    Dedup.dhashScreen(batch, read(spark, dir), idCol, maxHamming, maxL1,
      maxBroadcastBytes)
  }

  /** Fold the store's per-append small files into a bounded range
    * layout on `idCol` (the unit id — an EXPLICIT parameter: inferring
    * "the first column" would silently range-lay on whatever a caller
    * happened to select first) — ~128 MB per file with a
    * cluster-parallelism floor — through the standard temp-then-swap
    * ([[read]] heals a mid-swap crash). Returns (files before, files
    * after). SINGLE-WRITER: run between AvailableNow drains
    * (mediaDedupIngest's `compactEvery` does).
    */
  def compact(spark: SparkSession, dir: String,
              idCol: String = "fid"): (Int, Int) =
    // lease-guarded: a DIRECT compact while an ingest lane's drain is
    // mid-batch refuses with the holder's name instead of racing its
    // writes (withLease is re-entrant within one control flow — r12
    // verdict #5)
    Lease.withLease(spark, dir, "MediaHashStore.compact") {
      compactImpl(spark, dir, idCol)
    }

  private def compactImpl(spark: SparkSession, dir: String,
                          idCol: String): (Int, Int) = {
    val fs = opened(spark, dir).fs
    val path = new org.apache.hadoop.fs.Path(s"$dir/hashes")
    // one recursive listing yields both the file count and the byte
    // total (an object store charges per LIST round trip)
    def scanTree(p: org.apache.hadoop.fs.Path): (Int, Long) = {
      val it = fs.listFiles(p, true)
      var n = 0
      var b = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) n += 1
        b += f.getLen
      }
      (n, b)
    }
    val (before, bytes) = scanTree(path)
    val df = spark.read.option("recursiveFileLookup", "true")
      .parquet(path.toString)
    require(df.columns.contains(idCol),
      s"MediaHashStore.compact: range-layout key '$idCol' not in store " +
        s"columns ${df.columns.mkString("(", ", ", ")")}")
    // size by BYTES with a cluster-parallelism floor: pure row-count
    // sizing folded a 1M-unit store into one file, whose ~3 row groups
    // capped the next screen's scan at 3 tasks (measured 0.8 s → 3.0 s)
    // — compaction must bound file COUNT growth without destroying scan
    // parallelism
    val nFiles = math.max(spark.sparkContext.defaultParallelism.toLong,
      bytes / (128L << 20) + 1L).toInt
    StoreProtocol.rewrite(fs, path, "__compact", "MediaHashStore.compact") { tmp =>
      df.repartitionByRange(nFiles, col(idCol))
        .sortWithinPartitions(col(idCol))
        .write.mode("overwrite").parquet(tmp.toString)
    }
    (before, scanTree(path)._1)
  }

  /** Retraction: drop every unit row whose `idCol` (the DOC id by
    * default — all of a retracted doc's frames leave together) appears
    * in `ids`, through the compact-style temp-then-swap. After the
    * forget, a retracted doc's near-dups stop screening off against it
    * — the re-admission seam a takedown pipeline needs (StreamingSpec
    * pins it end to end). Forgetting EVERY unit un-creates the store
    * (meta removed): an empty parquet table carries no schema
    * guarantee, and a store that forgot its whole corpus has nothing
    * left to screen against. Returns the number of unit rows removed.
    * SINGLE-WRITER: run between drains, like [[compact]].
    */
  def forget(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String = "doc_id"): Long =
    // lease-guarded like [[compact]] (r12 verdict #5)
    Lease.withLease(spark, dir, "MediaHashStore.forget") {
      forgetImpl(spark, dir, ids, idCol)
    }

  private def forgetImpl(spark: SparkSession, dir: String, ids: DataFrame,
                         idCol: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/hashes")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!exists(spark, dir)) {
      // a whole-store retraction that crashed between its meta and
      // hashes deletes leaves the retracted hash rows as an uncommitted
      // orphan — the replayed forget must finish the removal, not
      // silently no-op past it (r10 second-review catch)
      fs.delete(path, true)
      return 0L
    }
    val store = read(spark, dir)
    val keys = ids.select(col(idCol)).distinct()
    // one scan answers removed AND whole-store retraction together (a
    // semi count + a kept.isEmpty would scan the store twice more)
    val stats = store.join(keys.withColumn("__m", lit(1)), Seq(idCol), "left")
      .agg(count(lit(1)), count(col("__m"))).head()
    val (total, removed) = (stats.getLong(0), stats.getLong(1))
    if (removed == 0L) return 0L
    val kept = store.join(keys, Seq(idCol), "left_anti")
    if (removed == total) {
      // meta FIRST: deleting hashes first would leave a committed-looking
      // store (meta present, data gone) on a crash between the two —
      // every screen would then throw until an append recreates hashes;
      // meta-first degrades to "uncommitted", which append already heals
      val meta = new org.apache.hadoop.fs.Path(s"$dir/meta")
      fs.delete(meta, true)
      fs.delete(path, true)
    } else {
      StoreProtocol.rewrite(fs, path, "__forget", "MediaHashStore.forget") { tmp =>
        kept.write.mode("overwrite").parquet(tmp.toString)
      }
    }
    removed
  }
}
