package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StoreProtocol

/** The marker protocol's write half on Hadoop's local filesystem, with no
  * Spark session: commit markers, the orphan sweep, the tier-fold plan
  * and generation numbering.
  */
class StoreProtocolSpec extends AnyFunSuite {

  // the raw local filesystem: no checksum side files, so listings and
  // sizes are exactly what the protocol wrote
  private val fs = {
    val f = new RawLocalFileSystem
    f.initialize(URI.create("file:///"), new Configuration())
    f
  }

  private def tmp(): Path = new Path(
    java.nio.file.Files.createTempDirectory("graft_protocol_t").toString)

  private def touch(p: Path, bytes: Int = 0): Unit = {
    val out = fs.create(p, true)
    try out.write(new Array[Byte](bytes)) finally out.close()
  }

  private def names(p: Path): Set[String] =
    fs.listStatus(p).map(_.getPath.getName).toSet

  test("commit writes exactly _commits/<key>") {
    val root = tmp()
    StoreProtocol.commit(fs, root, "i0_0123456789ab")
    assert(names(root) == Set("_commits"))
    assert(names(new Path(root, "_commits")) == Set("i0_0123456789ab"))
    assert(fs.getFileStatus(new Path(root, "_commits/i0_0123456789ab")).getLen == 0L)
    StoreProtocol.commit(fs, root, "i1_ba9876543210")
    assert(StoreProtocol.committedKeys(fs, root).toSet ==
      Set("i0_0123456789ab", "i1_ba9876543210"))
  }

  test("sweepUnmarked removes unmarked ingest dirs and bloom files, keeps marked " +
    "and superseded-but-uncleaned keys") {
    val root = tmp()
    Seq("i0_a", "i1_b", "r2_c", "i3_orphan").foreach { k =>
      fs.mkdirs(new Path(root, s"postings/ingest=$k"))
      touch(new Path(root, s"postings/ingest=$k/part-0.parquet"), 8)
      touch(new Path(root, s"id_bloom/ingest=$k"), 4) // blooms are files
    }
    touch(new Path(root, "postings/_SUCCESS"))
    Seq("i0_a", "i1_b", "r2_c").foreach(StoreProtocol.commit(fs, root, _))
    // r2_c superseded i1_b; the fold crashed before its cleanup, so
    // i1_b is still marked but no longer visible
    val out = fs.create(new Path(root, "_supersedes/r2_c"), true)
    try out.write("i1_b".getBytes("UTF-8")) finally out.close()
    assert(StoreProtocol.visibleKeys(fs, root).toSet == Set("i0_a", "r2_c"))

    StoreProtocol.sweepUnmarked(fs, root, Seq("postings", "id_bloom", "absent"))
    val kept = Set("ingest=i0_a", "ingest=i1_b", "ingest=r2_c")
    assert(names(new Path(root, "postings")) == kept + "_SUCCESS")
    assert(names(new Path(root, "id_bloom")) == kept)
  }

  test("planFold: no fold when the flat tail is empty and generations fit maxGens") {
    val root = tmp()
    val table = new Path(root, "labels")
    val gens = Seq("r1_a", "r2_b", "r3_c")
    gens.foreach { k =>
      fs.mkdirs(new Path(table, s"ingest=$k/bucket=0"))
      touch(new Path(table, s"ingest=$k/bucket=0/part-0.parquet"), 16)
    }
    val plan = StoreProtocol.planFold(fs, table.toString, gens, 3, "r")
    assert(!plan.due && plan.flat.isEmpty && plan.folded.isEmpty)
    assert(plan.gens == gens && plan.live == gens)
    // one generation past the cap: due, and the fold retires two
    assert(StoreProtocol.planFold(fs, table.toString, gens, 2, "r").folded.length == 2)
  }

  test("planFold retires the flat tail plus the SMALLEST generations, ties by " +
    "(gen, key); the new key takes the next generation") {
    val root = tmp()
    val table = new Path(root, "span_docs")
    def bucketed(k: String, bytes: Int): Unit = {
      fs.mkdirs(new Path(table, s"ingest=$k/bucket=3"))
      touch(new Path(table, s"ingest=$k/bucket=3/part-0.parquet"), bytes)
      touch(new Path(table, s"ingest=$k/_lsm_buckets_8"))
    }
    bucketed("r1_big", 400) // the original full base: never the cheapest
    // three generations tie on size: the lower generation goes first
    bucketed("r4_y", 100)
    bucketed("r3_x", 100)
    bucketed("r2_z", 100)
    // a generation whose buckets all migrated keeps only its marker
    fs.mkdirs(new Path(table, "ingest=r5_empty"))
    touch(new Path(table, "ingest=r5_empty/_lsm_buckets_8"))
    fs.mkdirs(new Path(table, "ingest=i6_flat"))
    touch(new Path(table, "ingest=i6_flat/part-0.parquet"), 50)
    val visible = Seq("r1_big", "r4_y", "i6_flat", "r3_x", "r2_z", "r5_empty")

    val plan = StoreProtocol.planFold(fs, table.toString, visible, 3, "r")
    assert(plan.due)
    assert(plan.gens == Seq("r1_big", "r2_z", "r3_x", "r4_y", "r5_empty"))
    assert(plan.flat == Seq("i6_flat"))
    // keep maxGens − 1 = 2: retire three, smallest first
    assert(plan.folded == Seq("r5_empty", "r2_z", "r3_x"))
    assert(plan.retired == Seq("i6_flat", "r5_empty", "r2_z", "r3_x"))
    assert(plan.live == Seq("r1_big", "r4_y"))
    assert(plan.key == s"r7_${StoreProtocol.keyHash(plan.retired)}")
    // deterministic: the same store plans the same fold
    assert(StoreProtocol.planFold(fs, table.toString, visible.reverse, 3, "r") == plan)
  }

  test("nextGen is monotone after retirements; keys are prefix + gen + 12 hex") {
    val root = tmp()
    val table = new Path(root, "gate_ids")
    val keys = Seq("0_aaaaaaaaaaaa", "1_bbbbbbbbbbbb", "2_cccccccccccc")
    keys.foreach { k =>
      fs.mkdirs(new Path(table, s"ingest=$k"))
      touch(new Path(table, s"ingest=$k/part-0.parquet"), 8)
      StoreProtocol.commit(fs, root, k)
    }
    assert(StoreProtocol.nextGen(Nil) == 0)
    assert(StoreProtocol.nextGen(keys) == 3)
    val plan = StoreProtocol.planFold(fs, table.toString, keys, 8, "retained_")
    assert(plan.retired == keys && plan.key.startsWith("retained_3_"))
    fs.mkdirs(new Path(table, s"ingest=${plan.key}/bucket=0"))
    touch(new Path(table, s"ingest=${plan.key}/_lsm_buckets_8"))
    StoreProtocol.commitIncremental(fs, root, Seq("gate_ids"), plan.key, plan.retired)
    val after = StoreProtocol.visibleKeys(fs, root)
    assert(after == Seq(plan.key))
    assert(StoreProtocol.committedKeys(fs, root) == after)
    assert(names(table) == Set(s"ingest=${plan.key}"))
    // one key left, yet the next generation stays above every key minted
    assert(StoreProtocol.nextGen(after) == 4)
    assert(StoreProtocol.ingestKey("i", StoreProtocol.nextGen(after),
      "0123456789abcdef") == "i4_0123456789ab")
    // streaming batch keys: the batch id is the generation
    assert(StoreProtocol.ingestKey("", 17L, "fedcba9876543210") == "17_fedcba987654")
  }
}
