package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The whole-directory crash protocol every persisted graft store shares
  * — ONE implementation (the r10 code-review consolidation: five heal
  * copies and four swap copies had to stay byte-for-byte consistent by
  * hand before this).
  *
  * [[swapInto]] replaces a live directory with a fully-written temp in
  * two renames: stage the live directory aside as `<path>__old`, move
  * the temp in, roll back if the second rename fails — a reader sees the
  * old or the new contents, never a mix, but there is a brief window
  * where the path is ABSENT, and a crash inside it parks the store at
  * `__old`. [[heal]] repairs exactly that state (path missing, `__old`
  * present → rename back; the `__old` contents are the complete
  * pre-swap store by construction) and must run before any read of a
  * swap-managed directory. Single-writer: heal's existence check races
  * a concurrent swap — the writers that tolerate the race document it
  * (Warehouse.recoverStranded keeps its own variant for that reason:
  * its overwrite retries until the writer wins).
  */
private[graft] object StoreProtocol {

  /** Repair a [[swapInto]] crashed between its two renames. */
  def heal(fs: FileSystem, path: Path): Unit = {
    val old = new Path(path.toString + "__old")
    if (!fs.exists(path) && fs.exists(old)) fs.rename(old, path)
    ()
  }

  /** The committed ingest keys of a marker-protocol store (`_commits/`
    * entries under `root`) — shared by the incremental BM25 index and
    * the span store (one implementation, the heal/swap consolidation
    * argument applied to the marker read).
    */
  def committedKeys(fs: FileSystem, root: Path): Seq[String] = {
    val commitsDir = new Path(root, "_commits")
    if (!fs.exists(commitsDir)) Nil
    else fs.listStatus(commitsDir).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
  }

  /** The generation number of an ingest key — the digits after the
    * letter prefix (`i7_…`/`r12_…` span/graph keys, `retained_3` gate
    * keys, `5_…` raw batch keys all parse). −1 for a key with no digits
    * (never minted by graft writers; sorts before everything so a
    * foreign dir cannot shadow a real generation).
    */
  def genOf(key: String): Int = {
    val d = key.dropWhile(!_.isDigit).takeWhile(_.isDigit)
    if (d.isEmpty) -1 else d.toInt
  }

  // ------------------------------------- incremental-consolidation flip
  //
  // The swap protocol above replaces a WHOLE directory — correct, but a
  // consolidation that rides it rewrites every committed row per fold,
  // and the r14 depth trigger fires one automatically every ~64 ingests:
  // amortized O(corpus/64) per batch, the last corpus-sized per-batch
  // term (r14 verdict #1). The incremental protocol below lands a
  // consolidation as a NEW INGEST inside the live store instead:
  //
  //   1. write the new generation's dirs UNMARKED (invisible — the
  //      orphan sweep covers a crash here);
  //   2. write `_supersedes/<newKey>` listing the keys the generation
  //      replaces (still invisible: only a COMMITTED key's note counts);
  //   3. create `_commits/<newKey>` — THE atomic flip: one rename-free
  //      file creation makes the new generation visible and hides every
  //      retired key at the same instant, so no reader ever sees a row
  //      twice (the flat partial AND its merged copy) or zero times;
  //   4. clean up: retired markers first, then the note, then the dirs —
  //      every prefix of that order is a correct on-disk state, and
  //      [[sweepSuperseded]] re-runs an interrupted cleanup at the next
  //      consolidation.
  //
  // Readers switch from [[committedKeys]] to [[visibleKeys]]; stores
  // that never consolidate incrementally have no `_supersedes` dir and
  // read identically (one exists() probe).

  private def supersedesDir(root: Path) = new Path(root, "_supersedes")

  /** Committed keys minus those retired by a committed key's supersede
    * note — what every reader of an incrementally-consolidated store
    * must use in place of [[committedKeys]].
    */
  def visibleKeys(fs: FileSystem, root: Path): Seq[String] = {
    val committed = committedKeys(fs, root)
    val sup = supersedesDir(root)
    if (committed.isEmpty || !fs.exists(sup)) committed
    else {
      val cset = committed.toSet
      val retired = fs.listStatus(sup).toSeq
        .filter(s => cset.contains(s.getPath.getName))
        .flatMap(s => readTextLines(fs, s.getPath)).toSet
      committed.filterNot(retired)
    }
  }

  /** Flip an incremental consolidation live: supersede note, commit
    * marker (the atomic instant), then cleanup of the retired keys'
    * markers, note and `tables` dirs. The new generation's dirs must be
    * fully written (unmarked) before calling.
    */
  def commitIncremental(fs: FileSystem, root: Path, tables: Seq[String],
                        newKey: String, retired: Seq[String]): Unit = {
    require(retired.nonEmpty, "commitIncremental: nothing to retire")
    fs.mkdirs(supersedesDir(root))
    writeTextFile(fs, new Path(supersedesDir(root), newKey), retired)
    fs.mkdirs(new Path(root, "_commits"))
    fs.create(new Path(root, s"_commits/$newKey"), true).close()
    cleanupRetired(fs, root, tables, newKey, retired)
  }

  /** The cleanup tail of [[commitIncremental]], idempotent and safe to
    * re-run after a crash at any point: ALL retired markers go before
    * the note (a note outliving its targets' markers is harmless; the
    * reverse would resurrect them), dirs go last (unmarked dirs are
    * invisible and orphan-swept anyway).
    */
  def cleanupRetired(fs: FileSystem, root: Path, tables: Seq[String],
                     newKey: String, retired: Seq[String]): Unit = {
    retired.foreach { k =>
      fs.delete(new Path(root, s"_commits/$k"), false)
      // a retired key may carry its own (already-applied) note
      fs.delete(new Path(supersedesDir(root), k), false)
    }
    fs.delete(new Path(supersedesDir(root), newKey), false)
    retired.foreach { k =>
      tables.foreach(t =>
        fs.delete(new Path(root, s"$t/ingest=$k"), true))
    }
    ()
  }

  /** Re-run any interrupted [[cleanupRetired]]: a committed key whose
    * note survives may have retired keys with live markers (hidden by
    * the note, but one lost note away from double-reading). Writers call
    * this at consolidation start, inside their lease.
    */
  def sweepSuperseded(fs: FileSystem, root: Path,
                      tables: Seq[String]): Unit = {
    val sup = supersedesDir(root)
    if (fs.exists(sup)) {
      val committed = committedKeys(fs, root).toSet
      fs.listStatus(sup).foreach { s =>
        val k = s.getPath.getName
        if (committed.contains(k))
          cleanupRetired(fs, root, tables, k, readTextLines(fs, s.getPath))
        else fs.delete(s.getPath, false) // note of a never-committed key
      }
    }
  }

  /** The generations a tier fold retires when the live chain holds more
    * than `keep`: the SMALLEST by on-disk footprint of their `tableDir`
    * ingest dirs, not the oldest. Folding by age re-reads the original
    * full base — the biggest generation by construction — every
    * `keep` folds, re-growing the amortized corpus-sized term the
    * incremental protocol exists to kill; folding by size is safe
    * because generations are ADDITIVE (each holds its own
    * disjoint-by-protocol contribution, so any subset folds without
    * touching the rest), and it bounds the tier fold's cost by the
    * small generations' own footprint — the classic LSM amortization.
    * Deterministic: ties break by (generation, key), and the sizes
    * themselves are a pure function of the committed data. One
    * `getContentSummary` RPC per generation, ≤ [[MaxBaseGens]] of them.
    */
  def tierFoldSelection(fs: FileSystem, tableDir: String,
                        gens: Seq[String], keep: Int): Seq[String] =
    if (gens.length <= keep) Nil
    else gens.map { k =>
      val p = new Path(s"$tableDir/ingest=$k")
      val len = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      (len, genOf(k), k)
    }.sorted.take(gens.length - keep).map(_._3)

  /** Deterministic 12-hex content hash of a key set — the suffix of an
    * incremental consolidation's generation key (same retired set + same
    * generation → same key, so a crashed merge's retry overwrites its
    * own orphan).
    */
  def keyHash(keys: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(keys.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  private def writeTextFile(fs: FileSystem, p: Path,
                            lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readTextLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toSeq
    finally in.close()
  }

  /** The pinned bloom fpp of a store's meta frame — the `bloom_fpp`
    * column when present, else the historical 1e-4 default (pre-pinning
    * stores). ONE implementation: the serving stack, the incremental
    * BM25 index and the gate-info audit readers all pin at the same
    * rate, so a default drift cannot skew one of them (r13 review
    * catch: three hand-kept copies).
    */
  def pinnedFpp(meta: DataFrame): Double =
    if (meta.schema.fieldNames.contains("bloom_fpp"))
      meta.head().getDouble(meta.schema.fieldIndex("bloom_fpp"))
    else 1e-4

  // ----------------------------------------------------- LSM bucket pair
  //
  // The hash-keyed stores (SpanStore's span_docs, GraphStore's labels)
  // share one layout law: appends write FLAT per-batch partials (cheap,
  // no small-files tax), consolidation lands the base PARTITIONED by
  // `bucket = key mod <store's bucket count>` so point reads prune it
  // by construction (row-group stats can never prune uniform hashes),
  // and layouts are self-describing per ingest. ONE implementation —
  // the heal/swap consolidation argument applied to the bucket
  // machinery (r13 review catch: two hand-kept copies had already
  // appeared).
  //
  // The bucket count is PER STORE, recorded in its meta frame
  // (`lsm_buckets` column) at the first ingest and re-recorded by every
  // consolidation — r13's fixed 256 saturated on drain-sized batches (a
  // batch with ≥ 256 distinct keys touched every bucket and re-read the
  // whole base per append: the 2.6 → 3.9 s drift, SURVEY.md §8.13), and a
  // hard-coded constant cannot be raised without silently breaking the
  // prune on every store compacted under the old modulus. Readers pin
  // the recorded count ([[pinnedLsmBuckets]] — absent column = the
  // historical 256 layout), consolidation migrates the layout to a new
  // count atomically with the meta (same directory swap), and a base
  // whose bucket dirs exceed the pinned count refuses loudly
  // ([[readLsm]]'s guard) instead of returning silently-pruned-wrong
  // rows.

  /** The historical bucket count — pinned for stores whose meta predates
    * the `lsm_buckets` column (their on-disk base IS mod-256).
    */
  val DefaultLsmBuckets = 256

  /** Default for NEW stores: at 4096 a drain-sized batch (~10³ distinct
    * keys) still prunes the base to ~¼ instead of saturating, and a
    * point probe (~10² keys) reads ~2% of it. The dir-count tax is one
    * directory listing per read ([[splitLsmLayout]] already pays it).
    */
  val WideLsmBuckets = 4096

  /** Cap on live base GENERATIONS: each incremental consolidation adds
    * one (the aggregated flat tail lands as its own generation; older
    * generations are never touched), so an uncapped chain would re-grow
    * the per-read listing count the fold exists to bound. When a
    * consolidation would exceed the cap it folds the SMALLEST
    * generations together ([[tierFoldSelection]]) — tiered merging: the
    * occasional rewrite is proportional to those generations' own
    * footprint, never triggered per batch, and the original full base
    * (the biggest generation) is never rewritten by any incremental
    * path — only an explicit migration compact reshapes it.
    */
  val MaxBaseGens = 8

  /** The pinned bucket count of a store's meta frame — `lsm_buckets`
    * when present, else the historical 256 (pre-parameterization
    * stores, whose compacted base is mod-256 on disk). ONE
    * implementation, the pinnedFpp argument: every reader of one store
    * must pin the same modulus or the prune silently drops rows.
    */
  def pinnedLsmBuckets(meta: DataFrame): Int =
    if (meta.schema.fieldNames.contains("lsm_buckets")) {
      val row = meta.head()
      row.getInt(row.fieldIndex("lsm_buckets"))
    } else DefaultLsmBuckets

  /** Split committed ingests of `tableDir` (e.g. `<dir>/span_docs`) by
    * on-disk layout — (bucketed base, flat tail). Self-describing: one
    * directory listing per ingest, no meta versioning to drift. An
    * ingest counts as bucketed when it has `bucket=` dirs OR the
    * `_lsm_buckets_` marker alone — a generation whose buckets all
    * migrated to newer generations (or whose merge was empty) keeps its
    * marker so it never reads as a flat partial.
    */
  def splitLsmLayout(fs: FileSystem, tableDir: String,
                     committed: Seq[String]): (Seq[String], Seq[String]) =
    committed.partition { k =>
      val d = new Path(s"$tableDir/ingest=$k")
      fs.exists(d) && fs.listStatus(d).exists(s =>
        (s.isDirectory && s.getPath.getName.startsWith("bucket=")) ||
          s.getPath.getName.startsWith("_lsm_buckets_"))
    }

  /** The committed rows of an LSM table, with the bucketed base pruned
    * to `touched` buckets (None = read everything — consolidation).
    * Flat and bucketed ingests read separately (one multi-path read
    * would refuse the mixed partition structure), then union by name
    * over `columns` (the partition column drops out). `buckets` is the
    * store's PINNED count ([[pinnedLsmBuckets]]); a pruned read first
    * verifies every on-disk bucket dir sits under it — a base laid out
    * under a DIFFERENT modulus (a hand-copied store, a meta edited out
    * of band) would otherwise return silently incomplete rows, the one
    * failure mode worse than a full scan. Unpruned reads skip the check
    * (every row is read regardless of modulus).
    */
  def readLsm(spark: SparkSession, fs: FileSystem, tableDir: String,
              committed: Seq[String], columns: Seq[String],
              touched: Option[Seq[Int]],
              buckets: Int = DefaultLsmBuckets): DataFrame = {
    // ONE listing per ingest dir serves both the layout split and the
    // modulus guard (r14 review: the split + a separate guard listing
    // doubled LIST round-trips per pruned read — 4096-entry listings on
    // the probe hot path). A committed key whose table dir is missing
    // (hand-pruned or partially copied store) fails with a named,
    // actionable error instead of a raw FileNotFoundException (r14
    // advice) — splitLsmLayout's exists-guard discipline.
    val listed = committed.map { k =>
      val d = new Path(s"$tableDir/ingest=$k")
      require(fs.exists(d),
        s"readLsm: committed ingest '$k' has no table dir at $d — the " +
          "store was hand-pruned or partially copied; restore the dir " +
          s"or remove its _commits marker before reading $tableDir")
      (k, fs.listStatus(d))
    }
    val (bucketedL, flatL) = listed.partition { case (_, st) =>
      st.exists(e =>
        (e.isDirectory && e.getPath.getName.startsWith("bucket=")) ||
          e.getPath.getName.startsWith("_lsm_buckets_"))
    }
    if (touched.isDefined) bucketedL.foreach { case (k, st) =>
      verifyLsmModulus(st, s"$tableDir/ingest=$k", buckets)
    }
    val flat = flatL.map(_._1)
    val cols = columns.map(col)
    // the bucketed base reads its LEAF bucket dirs DIRECTLY, addressed
    // from the listing already in hand — never through Spark partition
    // discovery, which lists every one of the (up to 4096) bucket dirs
    // per read regardless of how few the probe touches (measured: a
    // ~9 s flat tax on every post-compact point lookup at the 4096
    // default). Leaf addressing costs one listing per TOUCHED dir
    // instead; the partition column is implied by the path and never
    // selected, so nothing is lost.
    //
    // Generations are ADDITIVE (r15): an incremental fold lands the
    // aggregated tail as its OWN generation and never rewrites older
    // ones, so a bucket present in several generations holds each
    // generation's disjoint-by-protocol contribution — span partials
    // sum, graph labels and gate ids are written once — and the read is
    // the union of every visible generation's touched leaves. Row-level
    // visibility is the commit-marker + supersede-note flip alone: a
    // retired key's dirs are hidden by its note until cleanup, so no
    // interrupted fold can double-count.
    val tset = touched.map(_.toSet)
    val leafDirs = bucketedL.flatMap { case (_, st) =>
      st.filter { e =>
        e.isDirectory && e.getPath.getName.startsWith("bucket=") && {
          val b = e.getPath.getName.stripPrefix("bucket=").toInt
          tset.forall(_.contains(b))
        }
      }.map(_.getPath.toString)
    }
    val reads = Seq(
      if (flat.isEmpty) None
      else Some(spark.read
        .parquet(flat.map(c => s"$tableDir/ingest=$c"): _*)
        .select(cols: _*)),
      if (leafDirs.isEmpty) None
      else Some(spark.read.parquet(leafDirs: _*).select(cols: _*))
    ).flatten
    if (reads.nonEmpty) reads.reduce(_.unionByName(_))
    else {
      // every committed row is bucketed and the probe touches only
      // ABSENT buckets: an empty frame with the store's schema, typed
      // off any existing leaf
      val any = bucketedL.flatMap { case (_, st) =>
        st.filter(e =>
            e.isDirectory && e.getPath.getName.startsWith("bucket="))
          .map(_.getPath.toString)
      }
      require(any.nonEmpty,
        s"readLsm: $tableDir holds only marker-empty bucketed ingests " +
          "(no bucket dir anywhere to type an empty frame from) — the " +
          "store has no data rows; callers must guard committed.nonEmpty " +
          "against stores whose every ingest was empty")
      spark.read.parquet(any.head).select(cols: _*).limit(0)
    }
  }

  /** The ≤ `buckets` buckets `df`'s `keyCol` values touch — the bounded
    * collect that becomes the base read's partition filter.
    */
  def touchedLsmBuckets(df: DataFrame, keyCol: String,
                        buckets: Int = DefaultLsmBuckets): Seq[Int] =
    df.select(pmod(col(keyCol), lit(buckets.toLong)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq

  /** Guard a bucketed base's layout against the PINNED modulus, given
    * the ingest dir's (already fetched) listing — ONE implementation
    * shared by [[readLsm]] and the gate-store reader (r14 review: the
    * copies had reappeared). Two checks, both needed:
    *
    *  - the `_lsm_buckets_<n>` marker [[writeLsmBaseBy]] drops beside
    *    the bucket dirs (invisible to parquet — underscore-prefixed)
    *    must EQUAL the pinned count: this catches the direction dir
    *    names cannot (a mod-256 base copied under a 4096-pinning meta
    *    has every dir < 4096 yet prunes wrong). Bases written before
    *    the marker existed (r13) have no marker and fall through —
    *    that residual is only reachable by editing a meta out of band.
    *  - every bucket dir must sit UNDER the pinned count: catches the
    *    coarse direction on marker-less bases and injected dirs.
    */
  def verifyLsmModulus(entries: Seq[org.apache.hadoop.fs.FileStatus],
                       where: String, buckets: Int): Unit = {
    entries.map(_.getPath.getName).find(_.startsWith("_lsm_buckets_"))
      .map(_.stripPrefix("_lsm_buckets_").toInt)
      .foreach(m => require(m == buckets,
        s"$where is laid out mod $m but the store pins lsm_buckets=" +
          s"$buckets — a pruned read would silently drop rows; " +
          "re-compact the store (or fix the meta) before probing it."))
    val dirs = entries
      .filter(e => e.isDirectory && e.getPath.getName.startsWith("bucket="))
      .map(_.getPath.getName.stripPrefix("bucket=").toInt)
    require(dirs.forall(_ < buckets),
      s"$where holds bucket dirs up to ${if (dirs.isEmpty) -1 else dirs.max} " +
        s"but the store pins lsm_buckets=$buckets — the base was laid " +
        "out under a different modulus; a pruned read would silently " +
        "drop rows. Re-compact the store (or fix the meta) first.")
  }

  /** Write `df` as a consolidated BUCKETED base at `path` — hash-
    * repartitioned BY the bucket column first so each bucket's rows land
    * in one task (one file per bucket dir; without it every task writes
    * files into every bucket dir — a `buckets`× small-files tax). Task
    * count follows `spark.sql.shuffle.partitions`, so write parallelism
    * scales with the session, not the modulus. A `_lsm_buckets_<n>`
    * marker file lands beside the bucket dirs so the layout's modulus is
    * self-describing ([[verifyLsmModulus]] — costs nothing to read, it
    * rides the listing the reader already fetches). The name must NOT
    * contain '=': Spark's hidden-file filter exempts underscore names
    * with '=' (partition-ish), and the reader would try to parse the
    * marker as a parquet footer.
    */
  def writeLsmBase(df: DataFrame, keyCol: String, path: String,
                   buckets: Int = DefaultLsmBuckets): Unit =
    writeLsmBaseBy(df, pmod(col(keyCol), lit(buckets.toLong)).cast("int"),
      path, buckets)

  /** [[writeLsmBase]] with an explicit bucket EXPRESSION — the gate
    * stores bucket by xxhash64(id) (caller-typed ids, often sequential)
    * where the hash-keyed stores bucket by the bare key.
    */
  def writeLsmBaseBy(df: DataFrame, bucket: Column, path: String,
                     buckets: Int): Unit = {
    df.withColumn("bucket", bucket)
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    val fs = new Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    // an EMPTY base (every ingested row merged away / zero-span corpus)
    // writes no bucket dirs under partitionBy — land one schema-bearing
    // empty dir so readers can always type an empty frame off a leaf
    val hasLeaf = fs.listStatus(new Path(path)).exists(e =>
      e.isDirectory && e.getPath.getName.startsWith("bucket="))
    if (!hasLeaf)
      df.limit(0).drop("bucket").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/bucket=0")
    fs.create(new Path(path, s"_lsm_buckets_$buckets"), true).close()
  }

  /** Replace `path` with the fully-written `tmp` through the `__old`
    * two-rename swap; `op` names the caller in failure messages.
    */
  def swapInto(fs: FileSystem, tmp: Path, path: Path, op: String): Unit = {
    val old = new Path(path.toString + "__old")
    fs.delete(old, true)
    if (!fs.rename(path, old))
      throw new IllegalStateException(s"$op: cannot stage $path")
    if (!fs.rename(tmp, path)) {
      fs.rename(old, path) // roll back — the store stays readable
      throw new IllegalStateException(s"$op: swap failed for $path")
    }
    fs.delete(old, true)
    ()
  }
}
