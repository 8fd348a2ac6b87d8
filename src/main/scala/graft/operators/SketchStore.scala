package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Maintenance for a streaming sketch directory
  * ([[graft.streaming.IncrementalStream.profileSketchIngest]] /
  * `datasheetSketchIngest` layouts): every micro-batch writes its own
  * `batch=<id>` partition, so a long-lived stream accretes one
  * model-sized partition per batch FOREVER — the "profile everything so
  * far" merge stays model-sized per partition, but the partition COUNT
  * (and the file-listing cost in front of every merge) grows with
  * stream age. [[compact]] folds history down to a bounded layout:
  *
  *   - every partition EXCEPT the newest numeric batch merges into one
  *     carried partition (`batch=c<newest>`), using the caller's
  *     sketch-to-sketch merge: every exact statistic (counts, sums,
  *     min/max, the fixed-point quality sum) re-associates without
  *     error, so those readouts are unchanged bit for bit; the HLL
  *     DISTINCT estimate may move within the sketch's own error bound
  *     (the DataSketches union estimator is nesting-sensitive even
  *     though the registers union exactly) — the same tolerance every
  *     HLL readout already carries;
  *   - the newest batch partition is carried AS-IS under its original
  *     id, because it is the only batch Structured Streaming can
  *     re-deliver (recovery re-runs the last uncommitted batch under
  *     the SAME id and overwrites its partition in place; older ids
  *     never re-fire once a newer batch commits) — after compaction a
  *     replay still lands on its own partition;
  *   - the rewrite is a whole-directory temp-then-swap (everything
  *     here is model-sized, so rewriting it all costs nothing) with
  *     the `__old` crash-recovery contract shared with
  *     AnnIndex.readCorpus and Warehouse: a swap crashed between its
  *     two renames is healed on the next [[read]].
  *
  * Between compactions the partition count is bounded by (compaction
  * interval) new batches + 1 carried partition.
  *
  * SINGLE-WRITER contract (the Warehouse/AnnIndex discipline): run
  * [[compact]] while the stream is quiescent — between AvailableNow
  * drains, which is the lifecycle every graft ingest uses. The swap
  * protects against CRASHES (the `__old` recovery), not against a
  * concurrently-committing writer: a batch that lands between the
  * listing and the swap would be swept away with the old directory.
  *
  * RETRACTION note (the `forget(ids)` family deliberately stops here):
  * sketch partitions are NON-INVERTIBLE aggregates — HLL registers
  * cannot un-observe a value, min/max cannot be rolled back past the
  * retracted row — so a per-id forget on a sketch store is impossible
  * by nature, not unimplemented. The retraction story for profiles is
  * re-sketching the surviving corpus (one pass; the per-batch partials
  * make routine reads cheap, not the rebuild), exactly as for any
  * derived aggregate after a source delete.
  */
object SketchStore {

  /** The per-micro-batch sketch write: overwrite-by-batchId into
    * `dir/batch=<id>` — the effectively-once contract the streaming
    * ingests document. It opens (heals) the store first, like every
    * access path: a replayed micro-batch writing `batch=<id>` into a
    * `dir` parked at `__old` by a crashed [[compact]] would otherwise
    * recreate the directory holding only that one partition, the heal
    * could then never fire, and the next compaction's `delete(dir__old)`
    * would silently erase every pre-crash sketch partition (r9 advice).
    */
  def append(spark: SparkSession, dir: String, sketch: DataFrame,
             batchId: Long): Unit = {
    StoreProtocol.open(spark, dir)
    sketch.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
  }

  /** Read every sketch partition under `dir` (the input shape for
    * `Profile.mergeSketches` / `CorpusReport.datasheetFromSketches`),
    * healing a compaction crashed mid-swap first.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    StoreProtocol.open(spark, dir)
    spark.read.parquet(dir)
  }

  /** Compact `dir` with the family's sketch-to-sketch `merge`
    * ([[Profile.mergeSketchPartials]] /
    * [[CorpusReport.mergeDatasheetPartials]]). Returns (partitions
    * before, partitions after); a directory already at ≤ 2 partitions
    * is left untouched.
    */
  def compact(spark: SparkSession, dir: String,
              merge: DataFrame => DataFrame): (Int, Int) = {
    val store = StoreProtocol.open(spark, dir)
    val parts = store.fs.listStatus(store.root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
    val names = parts.map(_.getPath.getName.stripPrefix("batch="))
    val numeric = names.filter(_.forall(_.isDigit)).map(_.toLong)
    if (parts.length <= 2 || numeric.isEmpty) return (parts.length, parts.length)
    val newest = numeric.max
    val olderPaths = parts.map(_.getPath)
      .filter(_.getName != s"batch=$newest").map(_.toString)
    StoreProtocol.rewrite(store.fs, store.root, "__compact",
        "SketchStore.compact") { tmp =>
      merge(spark.read.parquet(olderPaths.toIndexedSeq: _*))
        .write.mode("overwrite").parquet(s"$tmp/batch=c$newest")
      spark.read.parquet(s"$dir/batch=$newest")
        .write.mode("overwrite").parquet(s"$tmp/batch=$newest")
    }
    (parts.length, 2)
  }
}
