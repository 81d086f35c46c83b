package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class GraftRewritesSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  test("size(ngram_hashes) fuses to the count-only kernel, same values") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val fused = docs.selectExpr("doc_id", "size(graft_char_ngram_hashes(text, 8)) AS d")
    val plan = fused.queryExecution.optimizedPlan.toString
    plan.toLowerCase should include("charngramdistinctcount")
    plan.toLowerCase should not include "charngramhashes"
    // equivalence: materialize the array behind a projection barrier so
    // the rule cannot fire, then take its size
    val viaArray = docs
      .selectExpr("doc_id", "graft_char_ngram_hashes(text, 8) AS arr")
      .selectExpr("doc_id", "size(arr) AS d")
    fused.collect().map(r => (r.getLong(0), r.getInt(1))).toMap shouldBe
      viaArray.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
  }

  test("rule does not fire under legacy sizeOfNull semantics") {
    // ANSI mode (default-on in Spark 4) forces size(NULL)=NULL regardless
    // of the legacy flag; the legacy behavior needs both toggles
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
    try {
      // legacy: size(NULL) = -1; the null-intolerant fused kernel would
      // return NULL — the rule must leave the plan alone
      val df = spark.sql(
        "SELECT size(graft_char_ngram_hashes(CAST(NULL AS STRING), 8)) AS d")
      df.queryExecution.optimizedPlan.toString.toLowerCase should
        not include "charngramdistinctcount"
      df.collect().head.getInt(0) shouldBe -1
    } finally {
      spark.conf.set("spark.sql.legacy.sizeOfNull", "false")
      spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("rule leaves other size() calls alone") {
    val df = spark.range(3).selectExpr("size(array(id, id)) AS s")
    df.collect().map(_.getInt(0)).toSeq shouldBe Seq(2, 2, 2)
  }
}
