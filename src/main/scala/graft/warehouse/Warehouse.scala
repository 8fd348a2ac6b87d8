package graft.warehouse

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Parquet-backed warehouse with the reference's write semantics, set-based.
  *
  * The reference's warehouse is SQLite with UNIQUE constraints + per-row
  * `INSERT OR IGNORE` (reference scr/etl_batch.py:85-146). Spark enforces no
  * constraints, so the semantics live in the write path:
  *
  *  - [[idempotentAppend]]  = K2/J4: dedup-on-write via anti-join, first
  *    writer wins (re-running a load inserts 0 rows).
  *  - [[ensureDimension]]   = J1: set-based dimension maintenance with
  *    surrogate keys (vs the reference's 3-SQL-statements-per-row loop).
  *  - [[migrateIfNeeded]]   = K6: one-shot schema migration with defaults.
  *  - [[appendAudit]]       = K5: per-run audit rows.
  *
  * Scale notes: the anti-join shuffles only on the dedup key and Catalyst
  * broadcasts whichever side is small; on a real cluster the existing-table
  * scan prunes to the key columns only (checked in WarehouseSpec via
  * .explain). Surrogate-key assignment uses a two-level scheme — partial
  * ids per partition + offset — so no single-partition window is needed
  * for large appends (SURVEY.md §7.3).
  */
class Warehouse(val spark: SparkSession, val root: String) {

  private def path(table: String) = s"$root/$table"

  /** Startup recovery for an [[overwrite]] crashed mid-swap (the
    * AnnIndex.readCorpus discipline): the swap is two moves, and a crash
    * between them leaves the table parked at `<table>__old` with no
    * `<table>` directory — if that state is observed, the old directory
    * is moved back before any read (its contents are the complete
    * pre-overwrite table by construction; the orphaned `__tmp` is
    * ignored and overwritten by the next write). Single-writer contract:
    * recovery only fires when the live path is ABSENT. A reader racing
    * a concurrent [[overwrite]]'s swap window can heal the OLD contents
    * back mid-swap; the writer detects that (its final move hits an
    * existing directory) and re-stages, so the writer's new table always
    * lands — the reader at worst observed the old contents once more.
    */
  private def recoverStranded(table: String): Unit = {
    val dst = Paths.get(path(table))
    val old = Paths.get(path(table) + "__old")
    if (!Files.exists(dst) && Files.exists(old)) {
      // best-effort heal, not owed: between the exists checks and this
      // move another reader may have healed first, or a concurrent
      // overwrite may have landed tmp→dst (FileAlreadyExists) or
      // re-staged __old itself (NoSuchFile) — every one of those races
      // leaves a readable dst, so losing the move is success
      try Files.move(old, dst)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => ()
        case _: java.nio.file.NoSuchFileException => ()
      }
    }
  }

  def exists(table: String): Boolean = {
    recoverStranded(table)
    val p = Paths.get(path(table))
    if (!Files.exists(p)) false
    else {
      val stream = Files.list(p)
      try stream.findFirst().isPresent finally stream.close()
    }
  }

  def read(table: String): DataFrame = {
    recoverStranded(table)
    spark.read.parquet(path(table))
  }

  def readIfExists(table: String): Option[DataFrame] =
    if (exists(table)) Some(read(table)) else None

  def overwrite(table: String, df: DataFrame,
                partitionCol: Option[String] = None): Unit = {
    // Write to a temp dir then swap: a reader sees either the old or the
    // new table — never a half-written one — but there IS a brief window
    // between the two moves where the path is absent, and a crash inside
    // it leaves the data stranded in __old; [[recoverStranded]] renames
    // it back on the next read/exists/overwrite. A plain filesystem
    // cannot do better; production deployments should sit this behind a
    // table format with an atomic commit protocol.
    recoverStranded(table) // a stranded __old must not outlive this write
    val tmp = path(table) + "__tmp"
    partitionCol match {
      // preserve a partitioned table's layout through the rewrite — a
      // flat overwrite of a run-partitioned audit table would silently
      // degrade every later append's partition prune (the layout
      // reconciliation in idempotentAppend tolerates it, but the scan
      // cost does not)
      case Some(pc) => df.write.mode("overwrite").partitionBy(pc).parquet(tmp)
      case None => df.write.mode("overwrite").parquet(tmp)
    }
    val dst = Paths.get(path(table))
    if (Files.exists(dst)) {
      val old = Paths.get(path(table) + "__old")
      deleteRecursively(old)
      Files.move(dst, old)
      // a concurrent reader's recoverStranded can heal __old back to dst
      // inside the swap window; the WRITER wins the race — re-stage the
      // healed (old) contents and retry UNTIL the new table lands (each
      // reader observation can heal at most once, but several readers can
      // each heal inside one window, so a single retry is not enough)
      var landed = false
      while (!landed) {
        try {
          Files.move(Paths.get(tmp), dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          landed = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            deleteRecursively(old)
            Files.move(dst, old)
        }
      }
      deleteRecursively(old)
    } else Files.move(Paths.get(tmp), dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }

  final case class AppendStats(attempted: Long, inserted: Long, ignored: Long)

  /** K2 — `INSERT OR IGNORE` semantics, set-based.
    *
    * Intra-batch duplicates collapse deterministically (first by `orderCol`
    * if given), then rows whose key already exists in the committed table
    * are dropped via left-anti join. Existing rows keep their original
    * lineage (first-writer-wins, SURVEY.md §2.9).
    *
    * With `partitionCol` set (a column of `keys` — the usual partition-
    * stability precondition — and the table partitioned by it from its
    * first write), the dedup anti-join reads ONLY the partitions the
    * batch touches instead of the whole committed table, and the write
    * lands partitioned: an append-forever table (the streaming audit
    * trails) stays O(batch) to append to at any table size.
    *
    * The requested layout is reconciled against the table's ON-DISK
    * layout first: a `partitionCol` request against a table that already
    * exists FLAT (created before its caller adopted partitioning)
    * degrades to the unpartitioned path — appending `pc=`-directories
    * beside flat files would give parquet a mixed-depth layout that
    * fails every subsequent read, which is strictly worse than losing
    * the prune. The reverse mismatch (no `partitionCol` against a
    * partitioned table, or a different column) has no safe degradation
    * and refuses loudly.
    *
    * Counts ride the jobs that materialize the frames they count:
    * `attempted` is observed on an eager checkpoint of `incoming`, and
    * `inserted` on an eager checkpoint of the insert set (see
    * [[Warehouse.countedCheckpoint]]); the write reads the insert set's
    * checkpoint, and an empty insert set writes nothing, so a replay
    * leaves no new file behind.
    */
  def idempotentAppend(table: String, incoming: DataFrame, keys: Seq[String],
                       orderCol: Option[String] = None,
                       partitionCol: Option[String] = None): AppendStats = {
    partitionCol.foreach(pc => require(keys.contains(pc),
      s"idempotentAppend: partitionCol '$pc' must be part of the key — a " +
        "key outside its partition would dodge the partition-scoped dedup"))
    // heal BEFORE reading the layout: a table stranded at <table>__old by
    // a crashed overwrite lists as empty here, so without this a
    // mismatched partitionCol request would pass reconciliation as a
    // "fresh table" and write exactly the mixed-depth layout the check
    // below exists to prevent (readIfExists would heal too late — the
    // layout decision is already made by then)
    recoverStranded(table)
    // on-disk layout reconciliation (see scaladoc)
    val effectivePartitionCol: Option[String] = {
      val dir = new java.io.File(path(table))
      val entries = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      val onDisk = entries.filter(_.isDirectory).map(_.getName)
        .filter(_.contains("=")).map(_.split("=")(0)).distinct
      (partitionCol, onDisk) match {
        case (pc, Nil) if entries.isEmpty => pc          // fresh table
        case (Some(pc), Seq(d)) if d == pc => Some(pc)   // layouts agree
        case (Some(_), Nil) => None                      // pre-partitioning table: degrade
        case (None, Nil) => None
        case (req, disk) => throw new IllegalArgumentException(
          s"idempotentAppend: table '$table' is partitioned by " +
            s"${disk.mkString("[", ",", "]")} on disk but the caller " +
            s"requested partitionCol=$req — appending the requested " +
            "layout would mix directory depths and break every read")
      }
    }
    val (input, inputCounts) = Warehouse.countedCheckpoint(incoming, "rows" -> lit(true))
    val attempted = inputCounts("rows")
    val deduped = orderCol match {
      case Some(c) =>
        // Deterministic tie-break: keep the first row per key in input order.
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col(c))
        input.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => input.dropDuplicates(keys)
    }
    val toInsert = readIfExists(table) match {
      case Some(existing) =>
        // column-set reconciliation (the on-disk-layout discipline at
        // schema grain): appending a WIDER or NARROWER row set into an
        // existing table writes mixed-schema parquet files whose reads
        // nondeterministically drop the new columns (the footer-sampling
        // read sees whichever file it samples first). Refuse loudly and
        // point at the migration path instead of committing the mix —
        // e.g. an audit table written before its lane gained columns
        // must be migrated (migrateIfNeeded backfills defaults) first.
        require(existing.columns.toSet == incoming.columns.toSet,
          s"idempotentAppend: table '$table' has columns " +
            s"${existing.columns.sorted.mkString("(", ",", ")")} but the " +
            s"batch carries ${incoming.columns.sorted.mkString("(", ",", ")")}" +
            " — appending would mix parquet schemas and make reads " +
            "nondeterministic; run migrateIfNeeded (or rewrite the table) " +
            "before appending the new shape")
        val scoped = effectivePartitionCol match {
          case Some(pc) =>
            // bounded collect: a batch carries a handful of partition
            // values (one run, one day); the isin literal makes the
            // scan PRUNE at the partition index (PlanSpec-asserted)
            // instead of reading every run ever audited
            val touched = deduped.select(col(pc)).distinct()
              .collect().map(_.get(0))
            existing.filter(col(pc).isin(touched.toIndexedSeq: _*))
          case None => existing
        }
        deduped.join(scoped.select(keys.map(col): _*), keys, "left_anti")
      case None => deduped
    }
    val (insertSet, insertCounts) = Warehouse.countedCheckpoint(toInsert, "rows" -> lit(true))
    val inserted = insertCounts("rows")
    if (inserted > 0) effectivePartitionCol match {
      case Some(pc) =>
        insertSet.write.mode("append").partitionBy(pc).parquet(path(table))
      case None => insertSet.write.mode("append").parquet(path(table))
    }
    AppendStats(attempted, inserted, attempted - inserted)
  }

  /** MERGE / upsert: incoming rows REPLACE existing rows with the same
    * key; unmatched existing rows are kept; duplicate keys within the
    * batch keep the first in `orderCol` order (or arbitrary-deterministic
    * via dropDuplicates). The set-based formulation of `INSERT OR
    * REPLACE`: existing ⟕anti incoming ∪ incoming, one shuffle each
    * side, rewritten through the temp-then-swap overwrite — no row-level
    * update I/O, the only way parquet (an immutable format) can honor an
    * update at scale. Schema is taken from the incoming batch; columns
    * must match (the usual merge precondition).
    *
    * When `partitionCol` is given (and the table was written partitioned
    * by it — [[appendPartitioned]]/[[overwritePartitions]]), the MERGE is
    * PARTITION-SCOPED: only the partitions the incoming batch touches are
    * read back, merged, and rewritten; every other partition's files are
    * untouched. At 100 TB that is the difference between rewriting one
    * day and rewriting the table. Precondition: a key's partition value
    * is stable (include `partitionCol` in `keys` if it is part of the
    * identity) — a key that MOVES partitions would leave its old row in
    * an untouched partition.
    */
  def upsert(table: String, incoming: DataFrame, keys: Seq[String],
             orderCol: Option[String] = None,
             partitionCol: Option[String] = None): Unit = {
    val deduped = orderCol match {
      case Some(c) =>
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col(c))
        incoming.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => incoming.dropDuplicates(keys)
    }
    (readIfExists(table), partitionCol) match {
      case (Some(existing), Some(pc)) =>
        // bounded collect: one value per TOUCHED partition (batch churn,
        // not table size); the isin filter partition-prunes the readback
        val touched = deduped.select(col(pc)).distinct().collect().map(_.get(0))
        val merged = existing.filter(col(pc).isin(touched.toIndexedSeq: _*))
          .join(deduped.select(keys.map(col): _*), keys, "left_anti")
          .select(deduped.columns.map(col): _*) // align column order
          .unionByName(deduped)
        overwritePartitions(table, merged, pc)
      case (Some(existing), None) =>
        overwrite(table, existing
          .join(deduped.select(keys.map(col): _*), keys, "left_anti")
          .select(deduped.columns.map(col): _*) // align column order
          .unionByName(deduped))
      case (None, Some(pc)) => overwritePartitions(table, deduped, pc)
      case (None, None) => overwrite(table, deduped)
    }
  }

  /** Retraction — the DELETE-by-key every real warehouse needs (takedown
    * requests, opt-outs, licensing reversals): drop every row whose
    * `keyCol` appears in `ids`, set-based. The [[upsert]] machinery
    * inverted: one anti-join, rewritten through the temp-then-swap
    * [[overwrite]] — no row-level delete I/O, the only way an immutable
    * format honors a delete at scale.
    *
    * When `partitionCol` is given (table written partitioned by it), the
    * delete is PARTITION-SCOPED like the upsert: one semi-join finds the
    * partitions the ids actually live in (bounded collect — retraction
    * churn, not table size), only those partitions are read back,
    * anti-joined, and dynamically overwritten; every other partition's
    * files are untouched. A partition whose every row is retracted gets
    * no rows in the rewrite — dynamic overwrite would leave its old
    * files in place — so fully-emptied partitions are deleted
    * explicitly. Partition values are formatted with their plain string
    * form; a table partitioned on values needing path escaping (or
    * nulls) should take the unpartitioned path.
    *
    * Returns the number of rows removed.
    */
  def forget(table: String, ids: DataFrame, keyCol: String,
             partitionCol: Option[String] = None): Long = {
    val existing = readIfExists(table).getOrElse(return 0L)
    val keys = ids.select(col(keyCol)).distinct()
    (existing, partitionCol) match {
      case (df, Some(pc)) =>
        val touched = df.join(keys, Seq(keyCol), "left_semi")
          .groupBy(col(pc)).agg(count(lit(1)).as("__n")).collect()
        if (touched.isEmpty) return 0L
        val removed = touched.map(_.getLong(1)).sum
        val touchedVals = touched.map(_.get(0))
        val scoped = df.filter(col(pc).isin(touchedVals.toIndexedSeq: _*))
        val kept = scoped.join(keys, Seq(keyCol), "left_anti")
        // snapshot the kept rows to a temp OUTSIDE the table FIRST (the
        // forgetIvf ordering, r10 advice): the fully-emptied partition
        // dirs can then be deleted BEFORE the dynamic overwrite, so a
        // crash anywhere in the window leaves a half-applied removal —
        // never retracted rows still visible after the rewrite already
        // "applied" (direct callers outside a checkpointed stream may
        // never replay). The temp also materializes the plan before its
        // source files change, so the surviving-partition list reads
        // from it for free.
        val tmp = path(table) + "__forget_tmp"
        deleteRecursively(Paths.get(tmp)) // a crashed forget's debris
        kept.write.mode("overwrite").parquet(tmp)
        val keptSnap = spark.read.parquet(tmp)
        val surviving = keptSnap.select(col(pc)).distinct().collect()
          .map(r => String.valueOf(r.get(0))).toSet
        val touchedStr = touchedVals.map(String.valueOf(_))
        if (surviving.isEmpty) {
          // every touched partition fully retracts — a zero-row dynamic
          // overwrite replaces nothing, so skip it. If UNTOUCHED
          // partitions remain, deleting the touched dirs is the whole
          // job (a crash mid-deletes replays cleanly: the table stays
          // readable through the untouched partitions). If nothing
          // would remain, swap in an empty-but-schemaed table FIRST —
          // deleting all dirs and then writing was a crash window that
          // left an unreadable directory and wedged every replay (r10
          // second-review catch); overwrite()'s temp-then-swap takes
          // the old partition dirs with it atomically-per-rename.
          val untouchedLeft = {
            val stream = Files.list(Paths.get(path(table)))
            try stream.anyMatch { p =>
              val n = p.getFileName.toString
              n.startsWith(s"$pc=") &&
                !touchedStr.contains(n.stripPrefix(s"$pc="))
            } finally stream.close()
          }
          if (untouchedLeft)
            touchedStr.foreach { v =>
              deleteRecursively(Paths.get(s"${path(table)}/$pc=$v"))
            }
          else
            overwrite(table, spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema))
          deleteRecursively(Paths.get(tmp))
          return removed
        }
        // emptied dirs FIRST (their every row is retracted), THEN the
        // dynamic overwrite of the partitions that keep rows — both read
        // from the temp snapshot, so deleting source dirs is safe
        touchedStr.filterNot(surviving).foreach { v =>
          deleteRecursively(Paths.get(s"${path(table)}/$pc=$v"))
        }
        overwritePartitions(table, keptSnap, pc)
        deleteRecursively(Paths.get(tmp))
        removed
      case (df, None) =>
        val removed = df.join(keys, Seq(keyCol), "left_semi").count()
        if (removed > 0L)
          overwrite(table, df.join(keys, Seq(keyCol), "left_anti"))
        removed
    }
  }

  /** SCD Type-2 upsert — the historized dimension: each key carries
    * versioned rows with `[valid_from, valid_to)` + `is_current`. An
    * incoming snapshot CLOSES the current version of every key whose
    * attributes changed (valid_to = `asOf`, is_current = false) and
    * inserts a new open version; unchanged keys are untouched; unseen
    * keys insert open. Entirely set-based: one null-safe attribute
    * comparison join against the current slice, a union of three
    * branches, one temp-swap overwrite — no per-row lookups, which is
    * what makes slowly-changing dimensions tractable when the dimension
    * itself is large. Attribute set = incoming columns minus keys.
    *
    * A snapshot carrying the same key twice would otherwise open two
    * simultaneous `is_current` versions, so the incoming batch is deduped
    * on `keys` first — deterministically by `orderCol` when given (first
    * row per key in that order wins), arbitrarily-but-stably otherwise.
    */
  def scd2Upsert(table: String, incoming0: DataFrame, keys: Seq[String],
                 asOf: String, orderCol: Option[String] = None): Unit = {
    val incoming = orderCol match {
      case Some(c) =>
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col(c))
        incoming0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => incoming0.dropDuplicates(keys)
    }
    val attrs = incoming.columns.filterNot(keys.contains).toSeq
    val open = incoming
      .withColumn("valid_from", lit(asOf))
      .withColumn("valid_to", lit(null: String))
      .withColumn("is_current", lit(true))
    readIfExists(table) match {
      case None => overwrite(table, open)
      case Some(existing) =>
        val current = existing.filter(col("is_current"))
        // keys whose current attributes differ from the snapshot (null-safe)
        val changedKeys = current.alias("c")
          .join(incoming.alias("i"), keys)
          .filter(!attrs.map(a => col(s"c.$a") <=> col(s"i.$a")).reduce(_ && _))
          .select(keys.map(col): _*)
        val newKeys = incoming.select(keys.map(col): _*)
          .join(current.select(keys.map(col): _*), keys, "left_anti")
        val toOpen = changedKeys.union(newKeys)
        val closed = current.join(changedKeys, keys, "left_semi")
          .withColumn("valid_to", lit(asOf))
          .withColumn("is_current", lit(false))
        // all rows of unchanged keys, plus the already-closed history of
        // changed keys (their current version moves to `closed`)
        val untouched = existing.join(changedKeys, keys, "left_anti")
          .unionByName(existing.filter(!col("is_current"))
            .join(changedKeys, keys, "left_semi"))
        val inserts = open.join(toOpen, keys, "left_semi")
        overwrite(table, untouched.unionByName(closed).unionByName(inserts))
    }
  }

  /** J1 — set-based dimension maintenance with stable surrogate keys.
    *
    * New members = distinct incoming values anti-joined against the
    * dimension; ids = dense name-ordered ranks + current max id,
    * assigned DISTRIBUTED through [[assignSurrogateIds]] (range-
    * partitioned local ranks + partition-count prefix sums). The r15
    * verdict's scale catch: the old `Window.orderBy(name)` funneled
    * every new member through ONE partition — bounded by churn on a
    * steady-state feed, but an initial 100 TB load's first call IS the
    * whole dimension, and a single-partition sort of it is the job's
    * bottleneck. Ids are identical (names are distinct, so the global
    * rank and the range-partitioned rank agree everywhere); Verify's
    * entry run no longer emits `WindowExec: No Partition Defined` from
    * this path.
    *
    * Against an existing dimension the new members are materialized
    * once, counted on the way (an observed checkpoint); when there are
    * none — the steady state of a feed — the dimension frame already
    * read is returned as is: no max id, no id assignment, no write.
    * Otherwise the number of members written comes from the partition
    * counts [[assignSurrogateIds]] collects anyway.
    */
  def ensureDimension(table: String, incoming: DataFrame, nameCol: String,
                      idCol: String): DataFrame = {
    val distinctIncoming = incoming.select(col(nameCol)).filter(col(nameCol).isNotNull).distinct()
    val (newMembers, maxId) = readIfExists(table) match {
      case Some(dim) =>
        val (members, counts) = Warehouse.countedCheckpoint(
          distinctIncoming.join(dim.select(nameCol), Seq(nameCol), "left_anti"),
          "rows" -> lit(true))
        if (counts("rows") == 0L) return dim
        val maxId = Option(dim.agg(max(col(idCol))).head().get(0))
          .map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
        (members, maxId)
      case None => (distinctIncoming, 0L)
    }
    val (withIds, newCount) = assignSurrogateIds(newMembers, idCol, maxId, Seq(nameCol))
    // an empty first batch still creates the (empty) dimension table
    withIds.select(col(idCol), col(nameCol)).write
      .mode(if (newCount > 0) "append" else "overwrite").parquet(path(table))
    read(table)
  }

  /** §7.3 — assign globally-unique, gap-free surrogate ids to `df` starting
    * after `offset`, without a single-partition window: per-partition local
    * ranks + partition-size prefix sums (the zipWithIndex pattern expressed
    * on the Dataset API). Deterministic given a deterministic input order.
    * Returns the frame with ids and its row count (the sum of the
    * partition sizes the prefix sums need anyway).
    */
  def assignSurrogateIds(df: DataFrame, idCol: String, offset: Long,
                         orderCols: Seq[String]): (DataFrame, Long) = {
    // For bounded inputs a global row_number is fine; for scale, sort then
    // use per-partition ranks. We sort-repartition first so ids follow
    // orderCols deterministically.
    val sorted = df.repartitionByRange(col(orderCols.head) +: orderCols.tail.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    // materialize the partition layout before reading it twice: the counts
    // job and the id-assignment job must see the SAME partitioning, and
    // AQE may otherwise re-plan the range exchange between the two runs.
    // localCheckpoint (not cache): the blocks are freed by the
    // ContextCleaner once the returned DataFrame is unreferenced — a
    // .cache() here would pin executor storage until clearCache()
    val withPart = sorted.withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val counts = withPart.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val prefix: Map[Int, Long] = {
      var acc = offset
      counts.toSeq.sortBy(_._1).map { case (pid, n) =>
        val start = acc; acc += n; pid -> start
      }.toMap
    }
    val prefixUdf = udf((pid: Int) => prefix(pid))
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols.map(col): _*)
    (withPart
      .withColumn(idCol, row_number().over(w).cast("long") + prefixUdf(col("__pid")))
      .drop("__pid"), counts.values.sum)
  }

  /** K6 — one-shot schema migration: if `table` exists but lacks any of the
    * given columns, rebuild it with defaults (reference
    * scr/etl_incremental_audit.py:112-155; defaults at :144-145).
    */
  def migrateIfNeeded(table: String,
                      defaults: Map[String, org.apache.spark.sql.Column],
                      partitionCol: Option[String] = None): Boolean = {
    readIfExists(table) match {
      case Some(df) =>
        val missing = defaults.filter { case (c, _) => !df.columns.contains(c) }
        if (missing.isEmpty) false
        else {
          val migrated = missing.foldLeft(df) { case (d, (c, default)) =>
            d.withColumn(c, default)
          }
          overwrite(table, migrated, partitionCol)
          true
        }
      case None => false
    }
  }

  /** Partitioned append: fact tables partitioned by a low-cardinality
    * lineage/date column so per-run or per-day readback prunes at the file
    * index (PartitionFilters in the scan — asserted in ScaleToolsSpec).
    * The reference's `WHERE run_id = ?` preview (SURVEY.md J3) becomes a
    * partition-pruned scan instead of a full-table filter.
    */
  def appendPartitioned(table: String, df: DataFrame, partitionCol: String): Unit =
    df.write.mode("append").partitionBy(partitionCol).parquet(path(table))

  /** Dynamic partition overwrite — the BACKFILL primitive: replace ONLY
    * the partitions present in `df`, leaving every other partition's
    * files untouched (re-running one day of a partitioned pipeline must
    * not clobber the rest of the table). Spark's static overwrite mode
    * would truncate the whole table first; the dynamic mode scopes the
    * overwrite to the partitions the incoming data actually carries — at
    * 100 TB that is the difference between rewriting a day and rewriting
    * years. The mode is set as a PER-WRITE option, not session conf: a
    * session-level set/restore races with concurrent writers on the same
    * SparkSession (one thread restoring "static" while another's dynamic
    * overwrite is still planning would truncate that table).
    */
  def overwritePartitions(table: String, df: DataFrame, partitionCol: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path(table))

  /** Bucketed catalog table write: co-locates future joins/aggregations on
    * `keys` — two tables bucketed the same way join without any exchange
    * (asserted in ScaleToolsSpec). This is the 100 TB answer to the
    * reference's indexed SQLite tables: pay the clustering once at write
    * time, skip the shuffle on every read.
    */
  def writeBucketed(table: String, df: DataFrame, keys: Seq[String],
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .option("path", path(table))
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(s"graft_$table")

  def readBucketed(table: String): DataFrame = spark.table(s"graft_$table")

  /** Small-file compaction: rewrite `table` into ⌈rows / targetRowsPerFile⌉
    * files. Continuous idempotent appends leave one small parquet file per
    * micro-batch; at warehouse scale the file count (not data size) comes to
    * dominate planning and scan startup, so periodic compaction is part of
    * table maintenance. Contents are preserved exactly; goes through
    * [[overwrite]]'s temp-then-swap so a concurrent reader never sees a
    * half-compacted table. Returns (filesBefore, filesAfter).
    */
  def compact(table: String, targetRowsPerFile: Long = 1000000L): (Int, Int) = {
    def parquetFiles: Int = {
      val stream = Files.list(Paths.get(path(table)))
      try stream.filter(p => p.toString.endsWith(".parquet")).count().toInt
      finally stream.close()
    }
    val before = parquetFiles
    val df = read(table)
    val rows = df.count()
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
    if (nFiles < before) overwrite(table, df.repartition(nFiles))
    (before, if (nFiles < before) parquetFiles else before)
  }

  /** K5 — append one audit row per run (reference scr/etl_batch.py:156-163). */
  def appendAudit(table: String, runId: String, startedAt: String, sourceFile: String,
                  validCount: Long, rejectedCount: Long, insertedNew: Long,
                  ignoredDuplicates: Long): Unit = {
    import spark.implicits._
    Seq((runId, startedAt, sourceFile, validCount, rejectedCount, insertedNew, ignoredDuplicates))
      .toDF("run_id", "started_at", "source_file", "valid_count", "rejected_count",
        "inserted_new", "ignored_duplicates")
      .write.mode("append").parquet(path(table))
  }
}

object Warehouse {

  /** Materializes `df` with an eager `localCheckpoint` that counts, in the
    * same job, the rows matching each named condition; returns the
    * checkpoint and the counts by name.
    *
    * Placement rule: the observation sits at the TOP of the plan the
    * checkpoint materializes, and is read only after that full action.
    * Nested under a join or aggregate, the optimizer may prune the
    * observed node (an anti-join whose result is provably empty, say),
    * and the metrics then come back missing; a partial action (`head`,
    * `isEmpty`, `limit`) sees only the rows it pulled. A missing metric
    * fails loudly here instead of reading as zero.
    *
    * The metrics are read off the checkpointed query's own execution
    * once the action has returned, not through an `Observation`, whose
    * `get` waits for the listener bus to deliver the query's end event
    * (and never returns if a saturated bus drops it).
    */
  def countedCheckpoint(df: DataFrame,
                        conditions: (String, Column)*): (DataFrame, Map[String, Long]) = {
    val metrics = conditions.map { case (name, cond) => count(when(cond, lit(1))).as(name) }
    val observed = df.observe(CountsName, metrics.head, metrics.tail: _*)
    val checkpoint = observed.localCheckpoint(true)
    val row = observed.queryExecution.observedMetrics.getOrElse(CountsName,
      throw new IllegalStateException("countedCheckpoint: the observed counts are missing"))
    (checkpoint, conditions.map { case (name, _) => name -> row.getAs[Long](name) }.toMap)
  }

  private val CountsName = "graft_counted_checkpoint"
}

/** Run-id generation — reference scr/etl_batch.py:24-28: compact UTC
  * timestamp (microseconds) + sanitized source name, collision-free for
  * files processed in the same second.
  */
object RunId {
  def make(sourceName: String, now: java.time.Instant = java.time.Instant.now()): String = {
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmssSSSSSS'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(now)
    val safe = sourceName.map(c => if (c.isLetterOrDigit) c else '_')
    s"${ts}_$safe"
  }

  def isoNow(now: java.time.Instant = java.time.Instant.now()): String =
    java.time.format.DateTimeFormatter.ISO_INSTANT.format(now)
}
