package graft.functions

import graft.{GraftSession, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class MinHashSketchSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  private lazy val shingled = {
    GraftSession.table(spark, SparkTestSession.sf0001, "documents")
      .select(col("source"),
        expr("graft_shingle_hashes(graft_token_hashes(text), 3)").as("shingles"))
  }

  test("group sketch equals the per-document signatures folded elementwise") {
    val docSigs = shingled
      .withColumn("docsig", expr("graft_minhash_sig(shingles, 16)"))
      .select("source", "docsig")
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1))
    val folded = docSigs.groupBy(_._1).map { case (src, rows) =>
      src -> (0 until 16).map(i => rows.map(_._2(i)).min)
    }
    val sketched = shingled.groupBy("source")
      .agg(MinHashSketch.sketch(col("shingles"), 16).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    sketched shouldBe folded
  }

  test("sketch is invariant to row order and partitioning (mergeable)") {
    val a = shingled.groupBy("source")
      .agg(MinHashSketch.sketch(col("shingles"), 16).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val b = shingled.repartition(13).groupBy("source")
      .agg(MinHashSketch.sketch(col("shingles"), 16).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    b shouldBe a
  }

  test("identical groups estimate jaccard 1.0; estimator stays within [0,1]") {
    val sigs = shingled.groupBy("source")
      .agg(MinHashSketch.sketch(col("shingles"), 16).as("sig"))
    val self = sigs.select(
      MinHashSketch.estimatedJaccard(col("sig"), col("sig"), 16).as("j"))
      .collect().map(_.getDouble(0))
    all(self) shouldBe 1.0
    val cross = sigs.as("a").crossJoin(sigs.as("b"))
      .select(MinHashSketch.estimatedJaccard(col("a.sig"), col("b.sig"), 16).as("j"))
      .collect().map(_.getDouble(0))
    all(cross) should (be >= 0.0 and be <= 1.0)
  }
}
