package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** The lifecycle every persisted graft store runs, in ONE place: stores
  * keep only their data transforms and reach the filesystem protocol
  * through three entry points.
  *
  *  - [[open]] takes a read-only [[Store]] view: it heals a crash parked
  *    mid-swap, lists the visible ingest keys once and reads the
  *    one-row `meta` table at most once, when asked.
  *  - [[ingest]] lands one marked ingest: orphan sweep, the caller's
  *    writes into `<table>/ingest=<key>` dirs, meta on a first commit,
  *    then the commit marker.
  *  - [[rewrite]] replaces a directory through a fully-written temp and
  *    the `__old` two-rename swap; a whole-store consolidation is a
  *    rewrite whose body is one [[ingest]] into the empty temp store.
  *
  * The one order rule: nothing becomes visible before everything it
  * depends on is durable. Data dirs, then meta (first commit only),
  * then the marker; a fold writes its dirs, then its supersede note,
  * then its marker, then cleans up; a swap writes the whole temp before
  * its first rename. A crash at any step leaves unmarked or unswapped
  * debris that readers never see and the next writer sweeps.
  *
  * The swap leaves a brief window where the path is ABSENT, and a crash
  * inside it parks the store at `<path>__old`; [[open]] renames it back
  * (the `__old` contents are the complete pre-swap store by
  * construction). Single-writer: that existence check races a
  * concurrent swap, so writers hold the store's lease, and the
  * read-only [[peek]] reads a parked store in place instead of healing
  * it (Warehouse.recoverStranded keeps its own variant: its overwrite
  * retries until the writer wins). Leases stay with the callers: the
  * template takes none.
  *
  * Below the entry points sit the marker protocol's parts: keys
  * ([[contentHash]], [[nextGen]], [[ingestKey]], [[keyHash]]), the
  * incremental fold ([[planFold]], [[commitIncremental]],
  * [[sweepSuperseded]]) and the LSM bucket pair ([[readLsm]],
  * [[writeLsmBase]]).
  */
private[graft] object StoreProtocol {

  /** A read-only view of the store at `dir`, taken by [[open]] or
    * [[peek]]. `keys` are the visible ingest keys, listed once at first
    * use; `meta` is the store's one-row `meta` table, read once at first
    * use (it exists once a key is committed).
    */
  final class Store private[StoreProtocol] (spark: SparkSession,
      val fs: FileSystem, val root: Path, val dir: String,
      listed: Option[Seq[String]]) {
    lazy val keys: Seq[String] = listed.getOrElse(visibleKeys(fs, root))
    /** Every committed key, superseded ones included. */
    lazy val committed: Seq[String] = committedKeys(fs, root)
    lazy val meta: Row = spark.read.parquet(s"$dir/meta").head()
    def isEmpty: Boolean = keys.isEmpty
    /** The ingest dir of `key` in `table`. */
    def ingestDir(table: String, key: String): String = s"$dir/$table/ingest=$key"
    /** `table` over `ks` (every visible key by default), one read. */
    def read(table: String, ks: Seq[String] = keys): DataFrame =
      spark.read.parquet(ks.map(ingestDir(table, _)): _*)
    /** The key the next ingest takes: `<prefix><nextGen>_<hash>`. */
    def nextKey(prefix: String, hash: String): String =
      ingestKey(prefix, nextGen(keys), hash)
    /** The empty store at `tmp`: a whole-store [[rewrite]]'s target. */
    def emptyAt(tmp: Path): Store =
      new Store(spark, fs, tmp, tmp.toString, Some(Nil))
  }

  /** Open the store at `dir`: heal a swap parked at `__old` — `dir`
    * itself, or the `swapped` sub-dirs of a store that swaps tables
    * rather than its whole directory — and return its view.
    */
  def open(spark: SparkSession, dir: String, swapped: String*): Store = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val healed = if (swapped.isEmpty) Seq(root) else swapped.map(new Path(root, _))
    healed.foreach(heal(fs, _))
    new Store(spark, fs, root, dir, None)
  }

  /** [[open]] without the heal, for readers that must not write: the
    * view of `dir`, or of `dir__old` when a swap crashed between its
    * renames; None when neither exists.
    */
  def peek(spark: SparkSession, dir: String): Option[Store] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(dir + "__old")
    Seq(root -> dir, old -> old.toString).find(p => fs.exists(p._1))
      .map { case (p, d) => new Store(spark, fs, p, d, None) }
  }

  /** Land one ingest `key` into `store`, in the protocol's order: sweep
    * a crashed attempt's unmarked `tables` dirs, run `write` (given each
    * table's ingest dir for `key`), write `meta` when this is the
    * store's first commit, then the marker.
    */
  def ingest(store: Store, tables: Seq[String], key: String,
             meta: => Option[DataFrame] = None)
            (write: (String => String) => Unit): Unit = {
    sweepUnmarked(store.fs, store.root, tables)
    write(store.ingestDir(_, key))
    if (store.isEmpty) meta.foreach(
      _.coalesce(1).write.mode("overwrite").parquet(s"${store.dir}/meta"))
    commit(store.fs, store.root, key)
  }

  /** Replace `path` with what `fill` writes into the temp
    * `<path><suffix>` (cleared first), through the `__old` two-rename
    * swap; `op` names the caller in failure messages.
    */
  def rewrite(fs: FileSystem, path: Path, suffix: String, op: String)
             (fill: Path => Unit): Unit = {
    val tmp = new Path(path.toString + suffix)
    fs.delete(tmp, true)
    fill(tmp)
    swapInto(fs, tmp, path, op)
  }

  /** Repair a swap crashed between its two renames. */
  private def heal(fs: FileSystem, path: Path): Unit = {
    val old = new Path(path.toString + "__old")
    if (!fs.exists(path) && fs.exists(old)) fs.rename(old, path)
    ()
  }

  private def commitsDir(root: Path) = new Path(root, "_commits")

  /** The committed ingest keys of a marker-protocol store: the entries
    * under `root/_commits`, whether or not a later fold superseded them
    * (readers want [[visibleKeys]]).
    */
  def committedKeys(fs: FileSystem, root: Path): Seq[String] = {
    val dir = commitsDir(root)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
  }

  /** Whether `root` has a commit-marker directory at all: the layout
    * probe that tells a marker-protocol store from a flat one.
    */
  def hasCommitDir(fs: FileSystem, root: Path): Boolean =
    fs.exists(commitsDir(root))

  /** Make ingest `key` visible: create `root/_commits/<key>`. Every data
    * dir of the ingest must be fully written first: the marker is the
    * commit. On a store's FIRST commit its meta goes before the marker
    * too: every entry point reads meta once a marker exists, so a crash
    * between a marker and a missing meta would wedge the store, while a
    * meta without a marker just replays as a fresh first ingest (the
    * retry mints the same key and overwrites its own dirs).
    */
  def commit(fs: FileSystem, root: Path, key: String): Unit = {
    fs.mkdirs(commitsDir(root))
    fs.create(new Path(commitsDir(root), key), true).close()
  }

  /** Delete every `ingest=<k>` entry of `tables` (dirs, and files such
    * as the BM25 blooms) whose `k` has no marker: the debris of a
    * crashed append. Keys off marker PRESENCE, not visibility: a
    * superseded-but-uncleaned key's dirs belong to its fold's cleanup.
    * Unmarked dirs are invisible to readers, so under the single-writer
    * contract the sweep cannot race one.
    */
  def sweepUnmarked(fs: FileSystem, root: Path, tables: Seq[String]): Unit = {
    val marked = committedKeys(fs, root).toSet
    tables.map(new Path(root, _)).filter(fs.exists).foreach { t =>
      fs.listStatus(t).map(_.getPath)
        .filter(p => p.getName.startsWith("ingest=") &&
          !marked.contains(p.getName.stripPrefix("ingest=")))
        .foreach(fs.delete(_, true))
    }
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

  /** The generation a new key over `keys` takes: one past the highest,
    * 0 for an empty store. Never the key COUNT: a fold or a forget
    * shrinks the count, and a count-based generation re-mints numbers
    * the store has already used.
    */
  def nextGen(keys: Seq[String]): Int =
    if (keys.isEmpty) 0 else keys.map(genOf).max + 1

  /** An ingest key: `<prefix><gen>_<12 hex of hash>`. Deterministic, so
    * a crashed write's retry (same content, same generation) overwrites
    * its own orphan. Streaming batch keys pass the batch id as `gen`
    * with an empty prefix: a re-delivered batch must mint the same key.
    */
  def ingestKey(prefix: String, gen: Long, hash: String): String =
    s"$prefix${gen}_${hash.take(12)}"

  /** The order-free content hash of an ingest's ids: 16 hex of the XOR
    * of every row's `xxhash64(ids)`. An aggregate with O(1) state, so it
    * rides the caller's own single aggregate over the ingest (hashing a
    * `collect_list` instead would funnel every id through one task).
    */
  def contentHash(ids: Column): Column =
    format_string("%016x", bit_xor(xxhash64(ids)))

  /** [[contentHash]] over `cast(id as string)` values, replayed on the
    * driver (Spark's xxhash64, seed 42): a driver-local writer mints the
    * same key as its distributed twin.
    */
  def localContentHash(ids: Iterator[String]): String = {
    var h = 0L
    ids.foreach { s =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      h ^= org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    }
    f"$h%016x"
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
    commit(fs, root, newKey)
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
      fs.delete(new Path(commitsDir(root), k), false)
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

  /** A tier fold's plan over a store's visible keys ([[planFold]]):
    * `gens` are the bucketed generations in (generation, key) order,
    * `flat` the append tail, `folded` the generations the fold merges
    * back in, `key` the new generation's key.
    */
  final case class FoldPlan(gens: Seq[String], flat: Seq[String],
                            folded: Seq[String], due: Boolean, key: String) {
    /** The keys the new generation replaces: the flat tail first. */
    def retired: Seq[String] = flat ++ folded
    /** The generations that survive the fold untouched. */
    def live: Seq[String] = gens.filterNot(folded.toSet)
  }

  /** Plan an incremental consolidation of the keys `visible`, laid out
    * as `tableDir`'s ingests ([[splitLsmLayout]]). A fold is due when
    * there is a flat tail or more than `maxGens` generations; it then
    * retires the whole tail plus the SMALLEST generations past
    * `maxGens − 1` ([[tierFoldSelection]]), under the key
    * `<prefix><nextGen>_<keyHash(retired)>`. Reads listings and sizes
    * only; writes nothing.
    */
  def planFold(fs: FileSystem, tableDir: String, visible: Seq[String],
               maxGens: Int, prefix: String): FoldPlan = {
    val (bucketed, flat) = splitLsmLayout(fs, tableDir, visible)
    val gens = bucketed.sortBy(k => (genOf(k), k))
    val due = flat.nonEmpty || gens.length > maxGens
    val folded =
      if (due) tierFoldSelection(fs, tableDir, gens, math.max(maxGens - 1, 0))
      else Nil
    FoldPlan(gens, flat, folded, due,
      ingestKey(prefix, nextGen(visible), keyHash(flat ++ folded)))
  }

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

  /** The pinned bloom fpp of a store's meta row — the `bloom_fpp`
    * column when present, else the historical 1e-4 default (pre-pinning
    * stores). ONE implementation: the serving stack, the incremental
    * BM25 index and the gate-info audit readers all pin at the same
    * rate, so a default drift cannot skew one of them (r13 review
    * catch: three hand-kept copies).
    */
  def pinnedFpp(meta: Row): Double =
    if (meta.schema.fieldNames.contains("bloom_fpp"))
      meta.getDouble(meta.fieldIndex("bloom_fpp"))
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

  /** The pinned bucket count of a store's meta row — `lsm_buckets`
    * when present, else the historical 256 (pre-parameterization
    * stores, whose compacted base is mod-256 on disk). ONE
    * implementation, the pinnedFpp argument: every reader of one store
    * must pin the same modulus or the prune silently drops rows.
    */
  def pinnedLsmBuckets(meta: Row): Int =
    if (meta.schema.fieldNames.contains("lsm_buckets"))
      meta.getInt(meta.fieldIndex("lsm_buckets"))
    else DefaultLsmBuckets

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

  /** Replace `path` with the fully-written `tmp`: stage the live
    * directory aside as `<path>__old`, move the temp in, roll back if the
    * second rename fails — a reader sees the old or the new contents,
    * never a mix.
    */
  private def swapInto(fs: FileSystem, tmp: Path, path: Path, op: String): Unit = {
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
