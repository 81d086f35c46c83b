package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The SQL-first surface: registered views + graft functions let a user
  * run the reference's style of analysis (the datasets/snowset SQL
  * corpus) as plain `spark.sql`, including the native hash functions and
  * the fused optimizer rewrites.
  */
class SqlSurfaceSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  test("spark.sql over registered views matches the DataFrame path") {
    GraftSession.registerViews(spark, SparkTestSession.sf0001)
    val viaSql = spark.sql(
      """SELECT l_returnflag, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect().map(_.toSeq)
    val viaDf = {
      import org.apache.spark.sql.functions._
      GraftSession.table(spark, SparkTestSession.sf0001, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy("l_returnflag")
        .collect().map(_.toSeq)
    }
    viaSql shouldBe viaDf
  }

  test("graft functions work from SQL, joins across views resolve") {
    GraftSession.registerViews(spark, SparkTestSession.sf0001)
    val out = spark.sql(
      """SELECT d.source, COUNT(DISTINCT graft_poly_hash(lower(trim(d.text)))) AS n_distinct
        |FROM documents d GROUP BY d.source ORDER BY d.source""".stripMargin)
    out.count() should be > 0L
    // cross-view join: orders enriched with customer segment
    val joined = spark.sql(
      """SELECT c.c_mktsegment, COUNT(*) AS n
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
    joined.collect().map(_.getLong(1)).sum shouldBe
      GraftSession.table(spark, SparkTestSession.sf0001, "orders").count()
  }

  test("the fusion rule fires through the SQL path too") {
    GraftSession.registerViews(spark, SparkTestSession.sf0001)
    val df = spark.sql("SELECT size(graft_char_ngram_hashes(text, 8)) AS d FROM documents")
    df.queryExecution.optimizedPlan.toString.toLowerCase should
      include("charngramdistinctcount")
  }

  test("a table rewritten in a live session is read with its new schema and rows") {
    val session = spark
    import session.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    try {
      Seq(1L, 2L).toDF("r_regionkey").write.parquet(s"$dir/region.parquet")
      GraftSession.registerViews(spark, dir)
      spark.table("region").columns shouldBe Array("r_regionkey")
      Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
      GraftSession.registerViews(spark, dir)
      spark.table("region").columns shouldBe Array("r_regionkey", "r_name")
      spark.sql("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
        .as[(Long, String)].collect() shouldBe Array((3L, "c"), (4L, "d"), (5L, "e"))
    } finally {
      spark.catalog.dropTempView("region")
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }
}
