package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, GraphStore}

/** Lifecycle of the persisted connected-components store: split appends
  * ≡ one-shot CC, merge-by-remap without rewriting old label rows,
  * replay idempotency, point lookups, compaction (remap chain folds to
  * zero, base lands bucketed), and edge retraction priced as the exact
  * rebuild it is.
  */
class GraphStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_graphstore_t").toString + "/store"

  private def labelsOf(dir: String): Seq[(Long, Long)] =
    GraphStore.labels(spark, dir)
      .orderBy("node").as[(Long, Long)].collect().toSeq

  test("split appends label identically to one-shot connectedComponents; " +
    "a bridging edge merges committed components WITHOUT rewriting their " +
    "label rows; replay is a no-op") {
    val dir = tmp()
    // ingest 1: two separate chains 1-2-3 and 10-11
    assert(GraphStore.append(spark, dir,
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")) == ((5L, 0L)))
    assert(labelsOf(dir) == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L)))
    // ingest 2: new chain 20-21 plus a BRIDGE 3-10 merging the first two
    val (fresh, merges) = GraphStore.append(spark, dir,
      Seq((20L, 21L), (3L, 10L)).toDF("a", "b"))
    assert((fresh, merges) == ((2L, 1L)))
    val after = labelsOf(dir)
    assert(after == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L),
      (11L, 1L), (20L, 20L), (21L, 20L)))
    // the merge lives in the remap chain, not in rewritten rows: ingest
    // 1's label partition still says comp=10 on disk
    val raw = spark.read.parquet(s"$dir/labels/ingest=*")
      .filter(col("node") === 10L).select("comp").as[Long].collect().toSeq
    assert(raw == Seq(10L), "old label rows must stay immutable; resolution is read-time")
    // ≡ one-shot over the union of all edges
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (3L, 10L))
      .toDF("a", "b").localCheckpoint(true)
    val nodes = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node"))).distinct()
    val oneShot = Graph.connectedComponents(nodes, e, "node")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(after == oneShot)
    // replay: both batches re-deliver — nothing admits, nothing merges
    assert(GraphStore.append(spark, dir,
      Seq((20L, 21L), (3L, 10L)).toDF("a", "b")) == ((0L, 0L)))
    assert(labelsOf(dir) == after)
  }

  test("append's driver fast path builds a store IDENTICAL to the " +
    "forced-distributed path — labels, remap chain, edge log, ingest " +
    "keys (the replayed xxhash64 commit hash) and return counts") {
    val (fast, dist) = (tmp(), tmp())
    // three batches: fresh labels, a merge through the remap chain, and
    // a replayed (edges-only) batch
    val batches = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      Seq((3L, 10L), (20L, 21L)),
      Seq((3L, 10L), (20L, 21L)))
    batches.foreach { b =>
      val r1 = GraphStore.append(spark, fast, b.toDF("a", "b"))
      val r2 = GraphStore.append(spark, dist, b.toDF("a", "b"),
        localBatchEdgeCap = 0)
      assert(r1 == r2, s"batch $b: fast $r1 vs distributed $r2")
    }
    assert(labelsOf(fast) == labelsOf(dist))
    def tree(dir: String): Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rootQ = fs.makeQualified(root).toString
      def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(p).toSeq.flatMap { s =>
          val rel = s.getPath.toString.stripPrefix(rootQ)
          if (s.isDirectory) rel +: walk(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet") ||
            s.getPath.getName.startsWith("_commits")) Seq(rel) else Nil
        }
      walk(root).map(_.replaceAll("part-[^/]*\\.parquet$", "part"))
        .distinct.sorted
    }
    // same ingest keys (commit markers + table dirs) on both trees —
    // the driver hash replay matches Spark's xxhash64 exactly
    assert(tree(fast) == tree(dist),
      s"\nfast: ${tree(fast)}\ndist: ${tree(dist)}")
    // remap contents resolve identically
    assert(GraphStore.componentOf(spark, fast, Seq(11L, 21L).toDF("n"))
        .orderBy("node").as[(Long, Long)].collect().toSeq ==
      GraphStore.componentOf(spark, dist, Seq(11L, 21L).toDF("n"))
        .orderBy("node").as[(Long, Long)].collect().toSeq)
  }

  test("componentOf answers point lookups through the remap chain; " +
    "unknown nodes are absent") {
    val dir = tmp()
    GraphStore.append(spark, dir, Seq((1L, 2L), (10L, 11L)).toDF("a", "b"))
    GraphStore.append(spark, dir, Seq((2L, 10L)).toDF("a", "b")) // bridge
    val got = GraphStore.componentOf(spark, dir,
        Seq(11L, 99L).toDF("node"))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((11L, 1L)), "11 resolved through the merge; 99 never seen")
  }

  test("compact folds labels to one BUCKETED base with an empty remap " +
    "chain; labels identical; point lookups prune to touched buckets") {
    val dir = tmp()
    GraphStore.append(spark, dir, Seq((1L, 2L), (10L, 11L)).toDF("a", "b"))
    GraphStore.append(spark, dir, Seq((2L, 10L), (30L, 31L)).toDF("a", "b"))
    val before = labelsOf(dir)
    assert(GraphStore.compact(spark, dir) == ((2, 1)))
    assert(labelsOf(dir) == before)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/remap")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/remap")).isEmpty,
      "consolidation must fold the remap chain away")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/labels"))
      .filter(_.getPath.getName.startsWith("ingest="))
      .forall(s => fs.listStatus(s.getPath).exists(d =>
        d.isDirectory && d.getPath.getName.startsWith("bucket="))),
      "the compacted base must land as bucket= partition dirs")
    // second compact is a no-op; appends after compact still work (LSM tail)
    assert(GraphStore.compact(spark, dir) == ((1, 1)))
    GraphStore.append(spark, dir, Seq((31L, 1L)).toDF("a", "b"))
    assert(labelsOf(dir) == Seq((1L, 1L), (2L, 1L), (10L, 1L), (11L, 1L),
      (30L, 1L), (31L, 1L)))
    // the base read addresses the touched bucket's LEAF dir directly
    // (one path for a one-node lookup) — never a partition-discovery
    // scan of the whole base (r14 review: discovery lists every bucket
    // dir per read); rootPaths inspected programmatically — the plan
    // string truncates Location before the bucket segment
    val scans = GraphStore.componentOf(spark, dir, Seq(11L).toDF("node"))
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }
    val leaf = scans.filter(_.exists(_.contains("/bucket=")))
    assert(leaf.nonEmpty && leaf.forall(_.length == 1),
      s"expected exactly one bucket-leaf path in the base scan: $scans")
  }

  test("the bucket count is pinned per store and compact migrates it; " +
    "appends against an existing store follow the RECORDED layout") {
    val dir = tmp()
    GraphStore.append(spark, dir, Seq((1L, 2L), (10L, 11L)).toDF("a", "b"),
      lsmBuckets = 8)
    def metaBuckets() = graft.operators.StoreProtocol
      .pinnedLsmBuckets(spark.read.parquet(s"$dir/meta").head())
    assert(metaBuckets() == 8)
    // a later append asking for a different count is ignored — the
    // store's recorded layout is authoritative (no silent re-moduling)
    GraphStore.append(spark, dir, Seq((2L, 10L)).toDF("a", "b"),
      lsmBuckets = 64)
    assert(metaBuckets() == 8)
    val before = labelsOf(dir)
    assert(GraphStore.compact(spark, dir) == ((2, 1)))
    assert(metaBuckets() == 8 && labelsOf(dir) == before)
    // migrate to a new modulus: base + meta move in one swap; a
    // post-migration append still prunes correctly under the new count
    assert(GraphStore.compact(spark, dir, lsmBuckets = 4) == ((1, 1)))
    assert(metaBuckets() == 4 && labelsOf(dir) == before)
    GraphStore.append(spark, dir, Seq((11L, 30L)).toDF("a", "b"))
    assert(labelsOf(dir) == Seq((1L, 1L), (2L, 1L), (10L, 1L),
      (11L, 1L), (30L, 1L)))
  }

  test("forget retracts edges as the rebuild it is: components split " +
    "back exactly; unknown edges are a no-op; orphaned nodes self-label") {
    val dir = tmp()
    GraphStore.append(spark, dir,
      Seq((1L, 2L), (2L, 3L), (3L, 10L), (10L, 11L)).toDF("a", "b"))
    assert(labelsOf(dir).forall(_._2 == 1L))
    // cut the bridge (given reversed — the drop set is symmetric)
    assert(GraphStore.forget(spark, dir, Seq((10L, 3L)).toDF("a", "b")) == 1L)
    assert(labelsOf(dir) == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L)))
    assert(GraphStore.forget(spark, dir, Seq((7L, 8L)).toDF("a", "b")) == 0L)
    // retract everything: every node was once seen, so all self-label
    assert(GraphStore.forget(spark, dir,
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")) == 3L)
    assert(labelsOf(dir) == Seq((1L, 1L), (2L, 2L), (3L, 3L),
      (10L, 10L), (11L, 11L)))
  }

  test("a new-but-redundant edge still enters the edge log: retracting " +
    "a parallel path keeps the component connected (forget's exact-" +
    "rebuild contract needs the log complete — r13 review catch)") {
    val dir = tmp()
    GraphStore.append(spark, dir, Seq((1L, 2L), (2L, 3L)).toDF("a", "b"))
    // the closing edge labels nothing and merges nothing...
    assert(GraphStore.append(spark, dir,
      Seq((1L, 3L)).toDF("a", "b")) == ((0L, 0L)))
    // ...but cutting (2,3) must leave {1,2,3} connected through it — the
    // pre-fix store dropped the edge and would split 3 off here
    assert(GraphStore.forget(spark, dir, Seq((2L, 3L)).toDF("a", "b")) == 1L)
    assert(labelsOf(dir) == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    // and cutting the closing edge itself now genuinely splits
    assert(GraphStore.forget(spark, dir, Seq((1L, 3L)).toDF("a", "b")) == 1L)
    assert(labelsOf(dir) == Seq((1L, 1L), (2L, 1L), (3L, 3L)))
  }

  test("compact is BUCKET-SCOPED (r14 verdict #1): the tail folds into a " +
    "new generation carrying ONE composed remap; untouched label files " +
    "stay byte-identical; labels and lookups are value-identical") {
    val dir = tmp()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraphStore.append(spark, dir,
      Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("a", "b"), lsmBuckets = 8)
    assert(GraphStore.compact(spark, dir) == ((1, 1)))
    def ingests() = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/labels"))
      .map(_.getPath.getName).filter(_.startsWith("ingest="))
      .map(_.stripPrefix("ingest=")).toSeq.sorted
    val baseKey = ingests().head
    def bucketFiles(key: String): Map[String, (Long, Long)] = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/labels/ingest=$key"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath))
      .filterNot(_.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.toString,
        (st.getModificationTime, st.getLen))).toMap
    // tail: new nodes AND a bridge merging two committed components —
    // the merge must survive the fold as the composed remap
    GraphStore.append(spark, dir, Seq((30L, 31L)).toDF("a", "b"))
    GraphStore.append(spark, dir, Seq((2L, 10L)).toDF("a", "b"))
    val before = labelsOf(dir)
    val beforeFiles = bucketFiles(baseKey)
    assert(beforeFiles.nonEmpty)
    assert(GraphStore.compact(spark, dir) == ((3, 2)),
      "old base generation + the new one")
    assert(labelsOf(dir) == before)
    // the fold is ADDITIVE (r15): the tail lands as its own generation
    // and the base is never opened — EVERY base file stays byte-identical
    val afterFiles = bucketFiles(baseKey)
    assert(afterFiles == beforeFiles,
      "an additive fold must leave the base generation untouched")
    // exactly ONE remap table remains — the new generation's composed
    // chain (the old generations' copies are subsumed and swept)
    val remapKeys = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/remap"))
      .map(_.getPath.getName).filter(_.startsWith("ingest=")).toSeq
    assert(remapKeys.length == 1 && !remapKeys.head.contains(baseKey),
      s"expected one composed remap on the new generation: $remapKeys")
    // an OLD node's stale on-disk label resolves through the composed
    // remap: 10's row (old generation, untouched) still says comp=10
    import spark.implicits._
    val raw = spark.read.parquet(s"$dir/labels/ingest=$baseKey")
      .filter(col("node") === 10L).select("comp").as[Long].collect().toSeq
    assert(raw == Seq(10L), "the fold must not rewrite untouched rows")
    val got = GraphStore.componentOf(spark, dir, Seq(10L).toDF("node"))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L)), "merge resolved through the composed remap")
    // lifecycle continues: a further merge against the folded store
    GraphStore.append(spark, dir, Seq((21L, 30L)).toDF("a", "b"))
    assert(GraphStore.componentOf(spark, dir, Seq(31L).toDF("node"))
      .as[(Long, Long)].collect().toSeq == Seq((31L, 20L)))
    // forget still exact across generations (the edge log carried)
    assert(GraphStore.forget(spark, dir, Seq((2L, 10L)).toDF("a", "b")) == 1L)
    assert(GraphStore.componentOf(spark, dir, Seq(10L).toDF("node"))
      .as[(Long, Long)].collect().toSeq == Seq((10L, 10L)))
  }

  test("tier fold at the cap retires the SMALLEST generation, never the " +
    "original full base; a merge whose composed remap rode the retired " +
    "generation survives into the new one (r15: size-aware tiering)") {
    val dir = tmp()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraphStore.append(spark, dir,
      Seq((1L, 2L), (10L, 11L), (20L, 21L), (50L, 51L)).toDF("a", "b"),
      lsmBuckets = 8)
    assert(GraphStore.compact(spark, dir) == ((1, 1)))
    def ingests() = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/labels"))
      .map(_.getPath.getName).filter(_.startsWith("ingest="))
      .map(_.stripPrefix("ingest=")).toSeq.sorted
    val baseKey = ingests().head
    // SMALL generation: two fresh nodes plus a bridge merging two base
    // components — its fold carries the composed remap
    GraphStore.append(spark, dir, Seq((30L, 31L)).toDF("a", "b"))
    GraphStore.append(spark, dir, Seq((2L, 10L)).toDF("a", "b"))
    assert(GraphStore.compact(spark, dir)._2 == 2)
    val gen2 = (ingests().toSet - baseKey).head
    // fresh tail; cap 2 forces a tier fold over [big base, small gen2]
    GraphStore.append(spark, dir, Seq((40L, 41L)).toDF("a", "b"))
    def bucketFiles(key: String): Map[String, (Long, Long)] = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/labels/ingest=$key"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath))
      .filterNot(_.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.toString,
        (st.getModificationTime, st.getLen))).toMap
    val beforeFiles = bucketFiles(baseKey)
    assert(beforeFiles.nonEmpty)
    assert(GraphStore.compact(spark, dir, maxGens = 2) == ((3, 2)))
    val keys = ingests()
    assert(keys.contains(baseKey), "the big base must survive a tier fold")
    assert(!keys.contains(gen2), s"the smallest generation must retire: $keys")
    assert(keys.length == 2)
    val afterFiles = bucketFiles(baseKey)
    assert(afterFiles == beforeFiles,
      "a tier fold must leave the surviving base generation untouched")
    // labels ≡ one-shot CC over every edge, the folded merge included
    val e = Seq((1L, 2L), (10L, 11L), (20L, 21L), (50L, 51L),
      (30L, 31L), (2L, 10L), (40L, 41L)).toDF("a", "b").localCheckpoint(true)
    val nodes = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node"))).distinct()
    assert(labelsOf(dir) == Graph.connectedComponents(nodes, e, "node")
      .orderBy("node").as[(Long, Long)].collect().toSeq)
    // the retired generation's composed remap must live on: node 10's
    // untouched base row still resolves through the merge
    assert(GraphStore.componentOf(spark, dir, Seq(10L).toDF("node"))
      .as[(Long, Long)].collect().toSeq == Seq((10L, 1L)))
    // forget stays exact — the edge logs concatenated through both folds
    assert(GraphStore.forget(spark, dir, Seq((2L, 10L)).toDF("a", "b")) == 1L)
    assert(GraphStore.componentOf(spark, dir, Seq(10L).toDF("node"))
      .as[(Long, Long)].collect().toSeq == Seq((10L, 10L)))
  }

  test("generation cap bounds visible generations across repeated folds; " +
    "labels stay ≡ one-shot CC") {
    val dir = tmp()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = Seq(
      Seq((1L, 2L)), Seq((3L, 4L)), Seq((5L, 6L)),
      Seq((2L, 3L)), // merge
      Seq((7L, 8L)), Seq((4L, 5L))) // merge
    batches.foreach { es =>
      GraphStore.append(spark, dir, es.toDF("a", "b"), lsmBuckets = 8)
      GraphStore.compact(spark, dir, maxGens = 2)
    }
    val committed = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/_commits"))
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSeq
    assert(committed.length <= 2, s"cap must hold, got $committed")
    val e = batches.flatten.toDF("a", "b").localCheckpoint(true)
    val nodes = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node"))).distinct()
    val oneShot = Graph.connectedComponents(nodes, e, "node")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(labelsOf(dir) == oneShot)
  }

  test("coreness over the store ≡ one-shot Graph.coreness over every " +
    "edge ever appended, replayed ingests collapsed") {
    val dir = tmp()
    // triangle + pendant chain, appended in parts with a replay
    GraphStore.append(spark, dir, Seq((1L, 2L), (2L, 3L)).toDF("a", "b"))
    GraphStore.append(spark, dir, Seq((1L, 3L), (3L, 4L)).toDF("a", "b"))
    GraphStore.append(spark, dir, Seq((1L, 3L), (3L, 4L)).toDF("a", "b")) // replay
    val got = GraphStore.coreness(spark, dir)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val oneShot = Graph.coreness(
        Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b"))
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == oneShot)
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 2L), (4L, 1L)))
    // and the store face survives a fold (edge log carried by generation)
    GraphStore.compact(spark, dir)
    assert(GraphStore.coreness(spark, dir)
      .orderBy("node").as[(Long, Long)].collect().toSeq == got)
  }

  test("node-column mismatch refuses loudly; unmarked ingest partitions " +
    "are invisible and swept by the next append") {
    val dir = tmp()
    GraphStore.append(spark, dir, Seq((1L, 2L)).toDF("a", "b"), nodeCol = "node")
    assert(intercept[IllegalArgumentException] {
      GraphStore.append(spark, dir, Seq((3L, 4L)).toDF("a", "b"), nodeCol = "vertex")
    }.getMessage.contains("keyed on"))
    // orphan: label rows without a commit marker
    Seq((50L, 50L)).toDF("node", "comp").write.mode("overwrite")
      .parquet(s"$dir/labels/ingest=i9_deadbeef")
    assert(labelsOf(dir) == Seq((1L, 1L), (2L, 1L)))
    GraphStore.append(spark, dir, Seq((3L, 4L)).toDF("a", "b"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/labels/ingest=i9_deadbeef")))
  }
}
