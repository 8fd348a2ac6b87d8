package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.{GraphStore, Retrieval, SpanStore}

/** The on-disk layout every store lifecycle step leaves behind, pinned
  * as literal file trees: a SpanStore and a GraphStore through append,
  * append, compact and forget, and the incremental BM25 index through
  * append, append and compact. Part-file names are masked and checksum
  * files dropped; ingest keys, markers, supersede notes, bucket dirs,
  * `_lsm_buckets_` markers and meta are kept, so a change to any key,
  * marker, temp name or step order shows up here.
  */
class StoreLayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Every entry under `base`, relative, part files masked, no `.crc`. */
  private def tree(base: String): Set[String] = {
    val root = Paths.get(base)
    Files.walk(root).iterator.asScala.filter(_ != root).toSeq
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .map { p: Path =>
        val rel = root.relativize(p).toString
          .replaceAll("part-[^/]*\\.parquet$", "part-*.parquet")
        if (Files.isDirectory(p)) rel + "/" else rel
      }.toSet
  }

  private def assertTree(base: String, step: String, expected: Set[String]): Unit = {
    val got = tree(base)
    assert(got == expected,
      s"$step: unexpected ${(got -- expected).toSeq.sorted.mkString(", ")}; " +
        s"missing ${(expected -- got).toSeq.sorted.mkString(", ")}")
  }

  /** A parquet output dir: the dir, its `_SUCCESS` and its part files. */
  private def parquet(p: String) = Set(s"$p/", s"$p/_SUCCESS", s"$p/part-*.parquet")

  /** `table/` holding a flat ingest `key`. */
  private def flat(s: String, table: String, key: String) =
    Set(s"$s/$table/") ++ parquet(s"$s/$table/ingest=$key")

  /** `table/` holding a bucketed ingest `key` laid out mod `n`. */
  private def bucketed(s: String, table: String, key: String, n: Int,
                       buckets: Int*) = {
    val d = s"$s/$table/ingest=$key"
    Set(s"$s/$table/", s"$d/", s"$d/_SUCCESS", s"$d/_lsm_buckets_$n") ++
      buckets.flatMap(b => Set(s"$d/bucket=$b/", s"$d/bucket=$b/part-*.parquet"))
  }

  /** The store root, its meta and one commit marker per key. */
  private def committed(s: String, keys: String*) =
    Set(s"$s/", s"$s/_commits/") ++ keys.map(k => s"$s/_commits/$k") ++
      parquet(s"$s/meta")

  test("SpanStore: append, append, compact, forget") {
    val base = tempDir("graft_layout_span")
    val dir = s"$base/store"
    val text = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    def ingest(k: String) = flat("store", "span_docs", k) ++ flat("store", "doc_ids", k)
    SpanStore.append(spark, dir,
      Seq((1L, s"p1 $text"), (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9")).toDF("doc_id", "text"),
      "text", lsmBuckets = 4)
    assertTree(base, "first append",
      committed("store", "i0_9ef3a85902a7") ++ ingest("i0_9ef3a85902a7"))
    SpanStore.append(spark, dir,
      Seq((3L, s"q1 q2 $text")).toDF("doc_id", "text"), "text")
    assertTree(base, "second append",
      committed("store", "i0_9ef3a85902a7", "i1_2d9c66749c39") ++
        ingest("i0_9ef3a85902a7") ++ ingest("i1_2d9c66749c39"))
    SpanStore.compact(spark, dir)
    assertTree(base, "compact",
      committed("store", "r2_2943402c08e0") + "store/_supersedes/" ++
        bucketed("store", "span_docs", "r2_2943402c08e0", 4, 0, 1, 3) ++
        flat("store", "doc_ids", "r2_2943402c08e0"))
    SpanStore.forget(spark, dir,
      Seq((3L, s"q1 q2 $text")).toDF("doc_id", "text"), "text")
    assertTree(base, "forget",
      committed("store", "r3_9ef3a85902a7") ++
        bucketed("store", "span_docs", "r3_9ef3a85902a7", 4, 0, 1, 3) ++
        flat("store", "doc_ids", "r3_9ef3a85902a7"))
  }

  test("GraphStore: append, append, compact, forget") {
    val base = tempDir("graft_layout_graph")
    val dir = s"$base/store"
    def ingest(k: String) = flat("store", "labels", k) ++ flat("store", "edges", k)
    GraphStore.append(spark, dir, Seq((1L, 2L), (10L, 11L)).toDF("a", "b"),
      lsmBuckets = 4)
    assertTree(base, "first append",
      committed("store", "i0_385aa1520114") ++ ingest("i0_385aa1520114"))
    GraphStore.append(spark, dir, Seq((2L, 10L), (20L, 21L)).toDF("a", "b"))
    assertTree(base, "second append",
      committed("store", "i0_385aa1520114", "i1_7147f491e93b") ++
        ingest("i0_385aa1520114") ++ ingest("i1_7147f491e93b") ++
        flat("store", "remap", "i1_7147f491e93b"))
    GraphStore.compact(spark, dir)
    assertTree(base, "compact",
      committed("store", "r2_70fd1c4e3664") + "store/_supersedes/" +
        "store/remap/" ++
        bucketed("store", "labels", "r2_70fd1c4e3664", 4, 0, 1, 2, 3) ++
        flat("store", "edges", "r2_70fd1c4e3664"))
    GraphStore.forget(spark, dir, Seq((20L, 21L)).toDF("a", "b"))
    assertTree(base, "forget",
      committed("store", "r3_2fe46ca24f7c") ++
        bucketed("store", "labels", "r3_2fe46ca24f7c", 4, 0, 1, 2, 3) ++
        flat("store", "edges", "r3_2fe46ca24f7c"))
  }

  test("incremental BM25 index: append, append, compact") {
    val base = tempDir("graft_layout_bm25")
    val dir = s"$base/index"
    def ingest(k: String) =
      Seq("postings", "doc_len", "doc_freq", "stats_parts")
        .flatMap(flat("index", _, k)).toSet ++
        Set("index/id_bloom/", s"index/id_bloom/ingest=$k")
    Retrieval.appendBm25Incremental(spark, dir,
      Seq((1L, "red fox jumps"), (2L, "lazy dog sleeps")).toDF("doc_id", "text"),
      "text")
    assertTree(base, "first append",
      committed("index", "i0_9ef3a85902a7") ++ ingest("i0_9ef3a85902a7"))
    Retrieval.appendBm25Incremental(spark, dir,
      Seq((3L, "red dog runs")).toDF("doc_id", "text"), "text")
    assertTree(base, "second append",
      committed("index", "i0_9ef3a85902a7", "i1_2d9c66749c39") ++
        ingest("i0_9ef3a85902a7") ++ ingest("i1_2d9c66749c39"))
    Retrieval.compactBm25Incremental(spark, dir)
    assertTree(base, "compact",
      committed("index", "r2_b36fce2d9e9e") ++ ingest("r2_b36fce2d9e9e"))
  }
}
