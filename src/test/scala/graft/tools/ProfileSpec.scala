package graft.tools

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One smoke run per [[Profile]] mode at sf0.001, on one cheap name each. */
class ProfileSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  private def profile(mode: String, name: String): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Profile.run(spark, mode, SparkTestSession.sf0001, Seq(name), reps = 1))
    out.toString("UTF-8").linesIterator.toSeq
  }

  /** The median line: one JSON object naming the row, with one run. */
  private def medianLine(lines: Seq[String], name: String): Unit = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.last)
    json.get("name").asText shouldBe name
    json.get("runs").size shouldBe 1
    json.get("median_sec").asDouble should be > 0.0
  }

  test("query mode prints each rep's stage table and the median line") {
    val lines = profile("query", "q01_filter_agg")
    lines.head should startWith("== rep 1: q01_filter_agg wall ")
    lines.exists(_.matches("""\s+wall .* tasks .*""")) shouldBe true
    medianLine(lines, "q01_filter_agg")
  }

  test("build mode re-runs the staged node's build") {
    val lines = profile("build", "build_x101_posting")
    lines.head should startWith("== rep 1: build_x101_posting wall ")
    lines.head should not include " 0 stages"
    medianLine(lines, "build_x101_posting")
  }

  test("stream mode prints every trigger's durations") {
    val lines = profile("stream", "stream_x98_psi_monitor")
    lines.count(_.contains("trigger batch=")) shouldBe 2
    lines.filter(_.contains("trigger batch=")).foreach(_ should include("triggerExecution="))
    medianLine(lines, "stream_x98_psi_monitor")
  }

  test("plan mode prints the formatted physical plan") {
    val lines = profile("plan", "q01_filter_agg")
    lines.head shouldBe "== plan q01_filter_agg"
    lines should contain("== Physical Plan ==")
    lines.mkString("\n") should include("lineitem.parquet")
  }

  test("an unknown mode or name is refused") {
    an[Exception] should be thrownBy profile("query", "no_such_query")
    an[Exception] should be thrownBy profile("time", "q01_filter_agg")
  }
}
