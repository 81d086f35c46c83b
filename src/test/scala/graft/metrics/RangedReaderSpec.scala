package graft.metrics

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The executor half of the v2 analog: BytePlanner says what a pruned scan
  * would read; RangedReader reads it. The headline invariant is exact
  * agreement between the two — planned bytes are real bytes.
  */
class RangedReaderSpec extends AnyFunSuite with Matchers {

  /** Multi-row-group copy sorted by l_quantity so groups are prunable. */
  private lazy val staged: String = {
    val dir = java.nio.file.Files.createTempDirectory("rangedreader").toString
    SparkTestSession.spark.read
      .parquet(s"${SparkTestSession.sf001}/lineitem.parquet")
      .orderBy("l_quantity").coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .parquet(dir)
    dir
  }

  import RangedReader.ByteRange

  test("coalesce merges touching and overlapping ranges, keeps gaps (v2 merge_chunks)") {
    RangedReader.coalesce(Seq(
      ByteRange(100, 50), ByteRange(150, 50), // touching → one
      ByteRange(300, 10), ByteRange(305, 20), // overlapping → one
      ByteRange(400, 5))) shouldBe // gap → separate
      Seq(ByteRange(100, 100), ByteRange(300, 25), ByteRange(400, 5))
    RangedReader.coalesce(Nil) shouldBe Nil
  }

  test("bytes actually read == planned bytes, across the selectivity sweep") {
    // the invariant the planner's numbers stand on: for every tier of the
    // reference's workload sweep, executing the plan reads exactly the
    // bytes the plan claimed — full scan, partial prune, and prune-all
    Seq(None, Some("l_quantity > 25.0"), Some("l_quantity > 9999.0"))
      .foreach { pred =>
        withClue(s"predicate=$pred: ") {
          val planned = BytePlanner.plan(staged, Seq("l_quantity"), pred).plannedBytes
          val report = RangedReader.run(staged, Seq("l_quantity"), pred)
          report.bytesRead shouldBe planned
        }
      }
  }

  test("projection changes the executed byte count, not just the planned one") {
    val narrow = RangedReader.run(staged, Seq("l_quantity"), None).bytesRead
    val wide = RangedReader.run(staged, Nil, None).bytesRead
    narrow should be < wide
    wide shouldBe BytePlanner.plan(staged, Nil, None).plannedBytes
  }

  test("coalescing collapses per-chunk ranges into at most one seek per surviving group + footer") {
    // full-width scan: chunks within a group are back-to-back, so ranges
    // collapse to ~one per group (plus footer), far fewer than chunk count
    val plan = BytePlanner.plan(staged, Nil, None)
    plan.files.size shouldBe 1
    val ranges = RangedReader.coalesce(plan.files.head.ranges)
    val columnsPerGroup = 16 // lineitem width
    ranges.size should be < plan.rowGroups * columnsPerGroup
    ranges.size should be <= plan.rowGroups + 1
  }

  test("block size never changes the bytes read, only the request shape") {
    val pred = Some("l_quantity > 25.0")
    val a = RangedReader.run(staged, Seq("l_quantity"), pred, blockSize = 4 * 1024)
    val b = RangedReader.run(staged, Seq("l_quantity"), pred) // 512 KiB default
    a.bytesRead shouldBe b.bytesRead
  }

  test("impossible predicate reads exactly the footer") {
    val report = RangedReader.run(staged, Seq("l_quantity"), Some("l_quantity > 9999.0"))
    val plan = BytePlanner.plan(staged, Seq("l_quantity"), Some("l_quantity > 9999.0"))
    report.bytesRead shouldBe plan.files.map(_.footerBytes).sum
    report.ranges shouldBe plan.files.size // one footer range per file
  }

  test("a warm run parses no footer") {
    val pred = Some("l_quantity > 25.0")
    RangedReader.run(staged, Seq("l_quantity"), pred)
    val misses = BytePlanner.footerMisses
    val report = RangedReader.run(staged, Seq("l_quantity"), Some("l_quantity <= 10.0"))
    BytePlanner.footerMisses shouldBe misses
    report.bytesRead should be > 0L
  }
}
