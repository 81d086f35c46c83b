package graft.queries

import graft.SparkTestSession
import graft.queries.ExtensionCatalog.Staged
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The staged-artifact registry: [[ExtensionCatalog.Staged]]'s memo
  * semantics on fake bodies, the bench's build-row labels and order, and
  * every row node's on-disk artifact at sf0.001.
  */
class StagedSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  private def rm(p: String): Unit =
    scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()

  /** A fake node that counts its builds and returns its scratch dir. */
  private def counted(n: AtomicInteger, before: => Unit = ()): Staged =
    new Staged("fake", "graft-stagedspec")((_, _, out) => {
      before
      n.incrementAndGet()
      out
    })

  test("apply builds once per dir and returns the same path") {
    val n = new AtomicInteger
    val node = counted(n)
    val p1 = node(spark, "dir-a")
    val p2 = node(spark, "dir-a")
    p2 shouldBe p1
    n.get shouldBe 1
    node.path("dir-a") shouldBe Some(p1)
    node.path("dir-b") shouldBe None
    val p3 = node(spark, "dir-b")
    p3 should not be p1
    n.get shouldBe 2
    Seq(p1, p3).foreach(rm)
  }

  test("fresh builds into a new dir and leaves the memoized path alone") {
    val n = new AtomicInteger
    val node = counted(n)
    val memo = node(spark, "dir-a")
    val f = node.fresh(spark, "dir-a")
    f should not be memo
    new java.io.File(f).isDirectory shouldBe true
    n.get shouldBe 2
    node.path("dir-a") shouldBe Some(memo)
    node(spark, "dir-a") shouldBe memo
    n.get shouldBe 2
    Seq(memo, f).foreach(rm)
  }

  test("a build that throws is not memoized") {
    val n = new AtomicInteger
    var fail = true
    val node = counted(n, if (fail) sys.error("boom"))
    an[RuntimeException] should be thrownBy node(spark, "dir-a")
    node.path("dir-a") shouldBe None
    fail = false
    val p = node(spark, "dir-a")
    n.get shouldBe 1
    node.path("dir-a") shouldBe Some(p)
    rm(p)
  }

  test("a body may force another node, and concurrent applies build once") {
    val (na, nb) = (new AtomicInteger, new AtomicInteger)
    val a = counted(na)
    val b = new Staged("fake-dependent", "graft-stagedspec")((s, dir, out) => {
      a(s, dir)
      Thread.sleep(300) // both callers arrive while the build runs
      nb.incrementAndGet()
      out
    })
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val ps = Await.result(Future.sequence(
      Seq.fill(2)(Future(b(spark, "dir-a")))), 60.seconds)
    ps.distinct should have size 1
    nb.get shouldBe 1
    na.get shouldBe 1
    val pa = a.path("dir-a")
    pa shouldBe defined
    (ps.head +: pa.toSeq).foreach(rm)
  }

  test("stagedBuilds holds the 38 bench build rows in row order") {
    ExtensionCatalog.stagedBuilds.map(_.label) shouldBe Seq(
      "build_x101_posting", "build_x117_minhash_index",
      "build_x139_jaccard_index", "build_x144_ivf_index",
      "build_x145_ivf2_index", "build_x152_ivf_append",
      "build_x153_minhash_append", "build_x154_ivf_retract",
      "build_x155_minhash_compact", "build_x156_ivf_compact",
      "build_x157_posting_append", "build_x158_stream_admit",
      "build_x159_managed_compact", "build_x160_stream_admit_compact",
      "build_x161_minhash_retract", "build_x162_ivf_managed_compact",
      "build_x163_zorder", "build_x164_posting_retract",
      "build_x166_stream_attrib", "build_x167_posting_managed",
      "build_x168_stream_ann_compact", "build_x169_stream_late_drop",
      "build_x170_engine_dedup", "build_x172_hive_layout",
      "build_x173_simhash_index", "build_x174_provenance_retract",
      "build_x176_minhash_retract_folded", "build_x177_ivf_retract_folded",
      "build_x178_bm25_index", "build_x182_bm25_append",
      "build_x183_bm25_retract", "build_x187_stream_bm25",
      "build_x190_bm25_managed", "build_x192_positional",
      "build_x194_positional_append", "build_x195_positional_retract",
      "build_x198_stream_decontam", "build_x200_chunk_bm25")
  }

  test("every build row stages a non-empty artifact reported by stagedIndexPaths") {
    val dir = SparkTestSession.sf0001
    ExtensionCatalog.stagedBuilds.foreach(_(spark, dir))
    val paths = ExtensionCatalog.stagedIndexPaths(dir)
    paths.map(_._1) shouldBe ExtensionCatalog.stagedBuilds.map(_.label)
    paths.foreach { case (label, p) =>
      val f = new java.io.File(p)
      withClue(s"$label -> $p: ") {
        f.exists shouldBe true
        Option(f.listFiles).map(_.length).getOrElse(0) should be > 0
      }
    }
  }
}
