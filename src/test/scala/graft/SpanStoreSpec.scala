package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SpanStore}

/** Lifecycle of the persisted span-duplication store: incremental probe ≡
  * full-corpus spanStats, K2 replay, compaction invariance, exact
  * text-bearing forget (and its loud failure on drifted text), and the
  * ingest-marker crash protocol.
  */
class SpanStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_spanstore_t").toString

  private val span = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
  // corpus doc 1 and batch doc 11 share the span (cross-side dup);
  // batch docs 12/13 share another span only WITHIN the batch;
  // doc 14 is unique; doc 15 is below k (no spans)
  private val corpus = Seq(
    (1L, s"p1 p2 p3 $span"),
    (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")).toDF("doc_id", "text")
  private val bspan = "b1 b2 b3 b4 b5 b6 b7 b8"
  private val batch = Seq(
    (11L, s"q1 q2 $span"),
    (12L, s"x1 $bspan"),
    (13L, s"y1 y2 $bspan"),
    (14L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
    (15L, "tiny doc")).toDF("doc_id", "text")

  private def probeRows(dir: String) =
    SpanStore.probe(spark, dir, batch, "text", "doc_id", k = 8, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "dup_spans", "dup_tokens")
      .as[(Long, Long, Long)].collect().toSeq

  // duplication across committed ∪ batch: doc 11's 3 span windows dup
  // against doc 1; 12/13's single bspan window dups within the batch
  private val expected = Seq((11L, 3L, 10L), (12L, 1L, 8L),
    (13L, 1L, 8L), (14L, 0L, 0L), (15L, 0L, 0L))

  test("probe counts duplication across committed AND within the batch; matches full-corpus stats") {
    val dir = tmp()
    assert(SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8) == 2L)
    assert(probeRows(dir) == expected)
    // the oracle identity the board query leans on: probe(batch) before
    // its ingest ≡ spanStats over corpus ∪ batch restricted to batch docs
    val full = Dedup.spanStats(corpus.unionByName(batch), "text", "doc_id",
        k = 8, minDocs = 2)
      .filter(col("doc_id") >= 11L).orderBy("doc_id")
      .select("doc_id", "dup_spans", "dup_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(full == expected)
  }

  test("K2 replay: re-appending an ingested batch admits nothing and changes nothing") {
    val dir = tmp()
    SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8)
    // doc 15 (below k) emits no spans but still occupies the gate:
    // admitted counts DOCS, and a replayed short doc must not re-admit
    assert(SpanStore.append(spark, dir, batch, "text", "doc_id", k = 8) == 5L)
    assert(SpanStore.append(spark, dir, batch, "text", "doc_id", k = 8) == 0L)
    // a fresh doc among replayed ones admits alone
    val mixed = batch.unionByName(Seq((16L, s"z1 z2 z3 $bspan")).toDF("doc_id", "text"))
    assert(SpanStore.append(spark, dir, mixed, "text", "doc_id", k = 8) == 1L)
  }

  test("probe is value-identical before and after the batch's own ingest (doc-grain union)") {
    val dir = tmp()
    SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8)
    val before = probeRows(dir)
    SpanStore.append(spark, dir, batch, "text", "doc_id", k = 8)
    // the batch now sits on the committed side too; a naive two-sided
    // count would read every batch span as duplicated — the doc-grain
    // union must keep the probe unchanged
    assert(probeRows(dir) == before)
    assert(before == expected)
  }

  test("compact folds ingests to one; probe result identical") {
    val dir = tmp()
    SpanStore.append(spark, dir, corpus.filter(col("doc_id") === 1L),
      "text", "doc_id", k = 8)
    SpanStore.append(spark, dir, corpus.filter(col("doc_id") === 2L),
      "text", "doc_id", k = 8)
    val before = probeRows(dir)
    assert(SpanStore.compact(spark, dir) == ((2, 1)))
    assert(probeRows(dir) == before)
    assert(before == expected)
  }

  test("compact migrates the base to the BUCKETED layout; the probe " +
    "prunes it to the batch's touched buckets and stays value-identical; " +
    "flat appends after a compact read as the LSM tail") {
    val dir = tmp()
    SpanStore.append(spark, dir, corpus.filter(col("doc_id") === 1L),
      "text", "doc_id", k = 8)
    // single FLAT ingest: compact is also the layout migration
    assert(SpanStore.compact(spark, dir) == ((1, 1)))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def baseDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/span_docs"))
      .filter(_.getPath.getName.startsWith("ingest="))
    def bucketDirsOf(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).count(s =>
        s.isDirectory && s.getPath.getName.startsWith("bucket="))
    assert(baseDirs().forall(s => bucketDirsOf(s.getPath) > 0),
      "the compacted base must land as bucket= partition dirs")
    // an already-bucketed single base is a no-op (no churn per compact)
    assert(SpanStore.compact(spark, dir) == ((1, 1)))
    // LSM tail: a fresh flat append beside the bucketed base — the probe
    // reads both layouts and the result matches the all-flat store
    SpanStore.append(spark, dir, corpus.filter(col("doc_id") === 2L),
      "text", "doc_id", k = 8)
    assert(probeRows(dir) == expected)
    // and the probe's base scan addresses touched bucket LEAF dirs
    // directly (pruning by construction — uniform hashes defeat
    // row-group stats; and leaf addressing, unlike a partition filter,
    // never pays a whole-base partition-discovery listing)
    val scans = SpanStore.probe(spark, dir, batch, "text", "doc_id", k = 8)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }
    assert(scans.exists(ps => ps.nonEmpty && ps.forall(_.contains("/bucket="))),
      s"expected a bucket-leaf base scan: $scans")
  }

  test("the bucket count is pinned per store (meta lsm_buckets), compact " +
    "MIGRATES the layout to a requested count, and a base laid out under " +
    "a different modulus refuses a pruned read loudly") {
    val dir = tmp()
    SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8,
      lsmBuckets = 8)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def metaBuckets() = graft.operators.StoreProtocol
      .pinnedLsmBuckets(spark.read.parquet(s"$dir/meta").head())
    def maxBucketDir() = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/span_docs"))
      .filter(_.getPath.getName.startsWith("ingest="))
      .flatMap(s => fs.listStatus(s.getPath))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(_.getPath.getName.stripPrefix("bucket=").toInt)
      .max
    assert(metaBuckets() == 8, "first append records the store's modulus")
    assert(SpanStore.compact(spark, dir) == ((1, 1)))
    assert(metaBuckets() == 8 && maxBucketDir() < 8,
      "compact with no override keeps the recorded layout")
    assert(probeRows(dir) == expected)
    // migrate: base rewritten mod 4, meta re-pinned in the same swap
    assert(SpanStore.compact(spark, dir, lsmBuckets = 4) == ((1, 1)))
    assert(metaBuckets() == 4 && maxBucketDir() < 4)
    assert(probeRows(dir) == expected, "migration is value-invisible")
    // same-count re-compact of an already-bucketed base stays a no-op
    assert(SpanStore.compact(spark, dir, lsmBuckets = 4) == ((1, 1)))
    // corrupt layout: a bucket dir beyond the pinned modulus means the
    // base was written under a DIFFERENT one — a pruned probe must
    // refuse (silently dropping rows is the one outcome worse than a
    // full scan); the injected dir only needs to exist to be detected
    val ingest = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/span_docs"))
      .filter(_.getPath.getName.startsWith("ingest=")).head.getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(ingest, "bucket=99"))
    assert(intercept[IllegalArgumentException] { probeRows(dir) }
      .getMessage.contains("modulus"))
  }

  test("forget with the ingested text decrements exactly and lifts the re-admission veto") {
    val dir = tmp()
    SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8)
    assert(SpanStore.forget(spark, dir,
      corpus.filter(col("doc_id") === 1L), "text", "doc_id") == 1L)
    // doc 1 gone: doc 11's span no longer dups against the store (but
    // 12/13's within-batch dup is untouched)
    assert(probeRows(dir) == Seq((11L, 0L, 0L), (12L, 1L, 8L),
      (13L, 1L, 8L), (14L, 0L, 0L), (15L, 0L, 0L)))
    // the veto is lifted: doc 1 re-admits
    assert(SpanStore.append(spark, dir,
      corpus.filter(col("doc_id") === 1L), "text", "doc_id", k = 8) == 1L)
    assert(probeRows(dir) == expected)
    // ids never ingested are ignored
    assert(SpanStore.forget(spark, dir,
      Seq((99L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text"),
      "text", "doc_id") == 0L)
  }

  test("forget with drifted text fails loudly instead of corrupting counts") {
    val dir = tmp()
    SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8)
    val drifted = Seq((1L, "totally different text a b c d e f g h"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      SpanStore.forget(spark, dir, drifted, "text", "doc_id")
    }
    assert(e.getMessage.contains("negative"))
  }

  test("forgetting every doc un-commits the store; a fresh append rebuilds it") {
    val dir = tmp()
    SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8)
    assert(SpanStore.forget(spark, dir, corpus, "text", "doc_id") == 2L)
    // empty store: batch dups only within itself
    assert(probeRows(dir) == Seq((11L, 0L, 0L), (12L, 1L, 8L),
      (13L, 1L, 8L), (14L, 0L, 0L), (15L, 0L, 0L)))
    assert(SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8) == 2L)
    assert(probeRows(dir) == expected)
  }

  test("an append after a forget mints a generation above every earlier key") {
    val dir = tmp()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def keys() = graft.operators.StoreProtocol.committedKeys(fs, root)
    def gen(k: String) = graft.operators.StoreProtocol.genOf(k)
    val docs = (1 to 3).map(i =>
      (i.toLong, s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f f${i}g f${i}h"))
    val appended = docs.flatMap { d =>
      SpanStore.append(spark, dir, Seq(d).toDF("doc_id", "text"), "text",
        "doc_id", k = 8)
      keys()
    }
    assert(SpanStore.forget(spark, dir, Seq(docs.head).toDF("doc_id", "text"),
      "text", "doc_id") == 1L)
    val afterForget = keys()
    assert(afterForget.length == 1)
    SpanStore.append(spark, dir,
      Seq((4L, "g1 g2 g3 g4 g5 g6 g7 g8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8)
    val fresh = keys().filterNot(afterForget.toSet)
    assert(fresh.length == 1)
    val earlier = (appended ++ afterForget).distinct
    assert(earlier.forall(gen(_) < gen(fresh.head)),
      s"${fresh.head} reuses a generation of ${earlier.mkString(", ")}")
  }

  test("unmarked ingest partitions are invisible and swept by the next append") {
    val dir = tmp()
    SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8)
    // simulate a crash between the partition writes and the marker
    Seq((7L, s"k1 k2 $span")).toDF("doc_id", "text")
      .createOrReplaceTempView("orphan_src")
    spark.sql("SELECT doc_id FROM orphan_src").write.mode("overwrite")
      .parquet(s"$dir/doc_ids/ingest=i9_deadbeef")
    Dedup.spanShingles(spark.table("orphan_src"), "text", "doc_id", 8)
      .groupBy("shingle").agg(count(lit(1)).as("n_docs"))
      .write.mode("overwrite").parquet(s"$dir/span_docs/ingest=i9_deadbeef")
    // invisible to the probe (counts unchanged) ...
    assert(probeRows(dir) == expected)
    // ... and the next append sweeps it, then admits the doc for real
    assert(SpanStore.append(spark, dir, spark.table("orphan_src"),
      "text", "doc_id", k = 8) == 1L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/doc_ids/ingest=i9_deadbeef")))
  }

  test("compact is ADDITIVE (r14 verdict #1): the flat tail lands as a " +
    "NEW base generation, every base bucket file stays byte-identical " +
    "(mtime+length pinned), the retired tail vanishes atomically, and " +
    "probe results are value-identical") {
    val dir = tmp()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8,
      lsmBuckets = 8)
    assert(SpanStore.compact(spark, dir) == ((1, 1)))
    def ingests() = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/span_docs"))
      .map(_.getPath.getName).filter(_.startsWith("ingest="))
      .map(_.stripPrefix("ingest=")).toSeq.sorted
    val baseKey = ingests().head
    // data files of the base generation's bucket dirs: path → (mtime, len)
    def bucketFiles(key: String): Map[String, (Long, Long)] = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/span_docs/ingest=$key"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath))
      .filterNot(_.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.toString,
        (st.getModificationTime, st.getLen))).toMap
    // tail: ONE single-span doc — touches exactly one of the 8 buckets
    SpanStore.append(spark, dir,
      Seq((21L, "t1 t2 t3 t4 t5 t6 t7 t8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8)
    val beforeFiles = bucketFiles(baseKey)
    assert(beforeFiles.nonEmpty)
    val probeBefore = probeRows(dir)
    assert(SpanStore.compact(spark, dir) == ((2, 2)),
      "old base generation + the new one")
    assert(probeRows(dir) == probeBefore)
    assert(probeBefore == expected)
    // the fold is ADDITIVE (r15): the tail lands as its own generation
    // and the base is never opened — EVERY base file stays byte-identical
    val afterFiles = bucketFiles(baseKey)
    assert(afterFiles == beforeFiles,
      "an additive fold must leave the base generation untouched")
    // the retired flat key is gone — markers, dirs and the supersede note
    val keys = ingests()
    assert(keys.length == 2 && keys.contains(baseKey))
    val sup = new org.apache.hadoop.fs.Path(s"$dir/_supersedes")
    assert(!fs.exists(sup) || fs.listStatus(sup).isEmpty,
      "cleanup must retire the supersede note once the markers are gone")
    // crash shape: a supersede note whose key never committed is inert —
    // it cannot hide the keys it names
    fs.mkdirs(sup)
    val bogus = fs.create(new org.apache.hadoop.fs.Path(sup, "r99_bogus"), true)
    bogus.write(baseKey.getBytes("UTF-8")); bogus.close()
    assert(probeRows(dir) == probeBefore,
      "an uncommitted note must not hide a live generation")
    fs.delete(new org.apache.hadoop.fs.Path(sup, "r99_bogus"), false)
    // the K2 gate reads the carried doc_ids: the folded tail doc stays
    // vetoed, and the whole original corpus does too
    assert(SpanStore.append(spark, dir,
      Seq((21L, "t1 t2 t3 t4 t5 t6 t7 t8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8) == 0L)
    assert(SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8) == 0L)
  }

  test("generation cap: repeated append+compact cycles keep the visible " +
    "generation count bounded (oldest generations fold back in); values " +
    "and the K2 gate are unaffected") {
    val dir = tmp()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docs = (1 to 6).map(i =>
      (100L + i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h"))
    docs.foreach { case (id, t) =>
      SpanStore.append(spark, dir, Seq((id, t)).toDF("doc_id", "text"),
        "text", "doc_id", k = 8, lsmBuckets = 8)
      SpanStore.compact(spark, dir, maxGens = 2)
    }
    val committed = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/_commits"))
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSeq
    assert(committed.length <= 2,
      s"the cap must bound generations, got $committed")
    // every doc ever ingested still gates (doc_ids carried through folds)
    docs.foreach { case (id, t) =>
      assert(SpanStore.append(spark, dir,
        Seq((id, t)).toDF("doc_id", "text"), "text", "doc_id", k = 8) == 0L,
        s"doc $id lost its gate row in a fold")
    }
    // and the merged counts are intact: a probe sharing doc 3's span dups
    import spark.implicits._
    val hit = SpanStore.probe(spark, dir,
        Seq((999L, docs(2)._2)).toDF("doc_id", "text"),
        "text", "doc_id", k = 8, minDocs = 2)
      .select("doc_id", "dup_spans").as[(Long, Long)].collect().toSeq
    assert(hit == Seq((999L, 1L)))
    // maxGens = 1 folds everything to one generation (the full-fold shape
    // through the incremental machinery)
    SpanStore.append(spark, dir,
      Seq((200L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8)
    assert(SpanStore.compact(spark, dir, maxGens = 1)._2 == 1)
    assert(SpanStore.append(spark, dir,
      Seq((200L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8) == 0L)
  }

  test("tier fold at the cap retires the SMALLEST generation, never the " +
    "original full base: the base key survives with its untouched bucket " +
    "files byte-identical, the small generation's key vanishes, and " +
    "probe values + the K2 gate are unchanged (r15: size-aware tiering)") {
    val dir = tmp()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // BIG base: the corpus plus the batch (≈40 distinct spans over 8
    // buckets) folded once
    SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8,
      lsmBuckets = 8)
    SpanStore.append(spark, dir, batch, "text", "doc_id", k = 8)
    assert(SpanStore.compact(spark, dir) == ((2, 1)))
    def ingests() = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/span_docs"))
      .map(_.getPath.getName).filter(_.startsWith("ingest="))
      .map(_.stripPrefix("ingest=")).toSeq.sorted
    val baseKey = ingests().head
    // SMALL generation: one single-span doc, folded on its own
    SpanStore.append(spark, dir,
      Seq((41L, "g1 g2 g3 g4 g5 g6 g7 g8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8)
    assert(SpanStore.compact(spark, dir)._2 == 2)
    val gen2 = (ingests().toSet - baseKey).head
    // fresh single-span tail; the cap of 2 forces a tier fold over
    // gens = [big base, small gen2] — size-aware selection must pick gen2
    SpanStore.append(spark, dir,
      Seq((42L, "h1 h2 h3 h4 h5 h6 h7 h8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8)
    def bucketFiles(key: String): Map[String, (Long, Long)] = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/span_docs/ingest=$key"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath))
      .filterNot(_.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.toString,
        (st.getModificationTime, st.getLen))).toMap
    val beforeFiles = bucketFiles(baseKey)
    assert(beforeFiles.nonEmpty)
    assert(SpanStore.compact(spark, dir, maxGens = 2) == ((3, 2)))
    val keys = ingests()
    assert(keys.contains(baseKey), "the big base must survive a tier fold")
    assert(!keys.contains(gen2), s"the smallest generation must retire: $keys")
    assert(keys.length == 2)
    // the tier fold merges ONLY tail + gen2 — the base is never opened,
    // so every one of its files stays byte-identical
    val afterFiles = bucketFiles(baseKey)
    assert(afterFiles == beforeFiles,
      "a tier fold must leave the surviving base generation untouched")
    assert(probeRows(dir) == expected)
    // the K2 gate still vetoes every doc ever ingested, through the fold
    Seq(corpus, batch).foreach(d =>
      assert(SpanStore.append(spark, dir, d, "text", "doc_id", k = 8) == 0L))
    assert(SpanStore.append(spark, dir,
      Seq((41L, "g1 g2 g3 g4 g5 g6 g7 g8")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8) == 0L)
  }

  test("k / id-column mismatches refuse loudly") {
    val dir = tmp()
    SpanStore.append(spark, dir, corpus, "text", "doc_id", k = 8)
    assert(intercept[IllegalArgumentException] {
      SpanStore.append(spark, dir, batch, "text", "doc_id", k = 6)
    }.getMessage.contains("k=8"))
    assert(intercept[IllegalArgumentException] {
      SpanStore.probe(spark, dir, batch.withColumnRenamed("doc_id", "id"),
        "text", "id", k = 8)
    }.getMessage.contains("keyed"))
  }
}
