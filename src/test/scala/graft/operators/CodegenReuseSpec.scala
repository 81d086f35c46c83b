package graft.operators

import graft.SparkTestSession
import graft.metrics.RowProbe
import graft.sources.Layouts
import graft.streaming.StreamBm25
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Generated classes are compiled once per JVM on graft's BM25 lifecycle:
  * after one warm append, plain probe, champion probe and served batch,
  * repeating any of them with new data (a new batch, other terms, another
  * term count, the next micro-batch) compiles no new class. Counted with
  * Spark's compile counter ([[RowProbe.codegen]]), which is deterministic
  * for a plan sequence, unlike compile time.
  */
class CodegenReuseSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  private def compiled(body: => Unit): Long = {
    val n0 = RowProbe.codegen()._1
    body
    RowProbe.codegen()._1 - n0
  }

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")

  /** Docs `from until to`, each a deterministic mix of the vocabulary. */
  private def docs(from: Long, to: Long): DataFrame = {
    import spark.implicits._
    (from until to).map { id =>
      id -> (0 until 3 + (id % 5).toInt)
        .map(j => vocab(((id * 7 + j * 3) % vocab.size).toInt)).mkString(" ")
    }.toDF("doc_id", "text")
  }

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  /** A one-file query batch for the stream, written outside its input dir. */
  private def stageQuery(id: Long, terms: Seq[String]): java.io.File = {
    import spark.implicits._
    val out = tmp("cg-q")
    terms.map(t => (id, t)).toDF("query_id", "term").coalesce(1)
      .write.mode("overwrite").parquet(out)
    new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
  }

  test("a warm BM25 append, 1/2/3-term probes and a served batch compile no new class") {
    val root = tmp("cg-bm25")
    val idx = s"$root/index"
    Layouts.bm25Index(docs(0, 40), idx)
    val landing = s"$root/landing"
    new java.io.File(landing).mkdirs()
    val q1 = stageQuery(1, Seq("alpha", "beta"))
    val q2 = stageQuery(2, Seq("gamma", "delta", "eps"))
    val warmDocs = docs(40, 50)
    val nextDocs = docs(50, 65)
    def land(f: java.io.File, name: String): Unit =
      java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(s"$landing/$name.parquet"))
    val stream = StreamBm25.serve(spark, landing, idx, s"$root/ledger", s"$root/ckpt")
    try {
      // warm: one of each op
      Layouts.bm25Append(warmDocs, idx, batchId = Some("b1"))
      Bm25.topK(spark, idx, Seq("alpha", "beta")).collect()
      Bm25.topKChampions(spark, idx, Seq("alpha", "beta")).collect()
      land(q1, "q1")
      stream.processAllAvailable()

      compiled(Layouts.bm25Append(nextDocs, idx, batchId = Some("b2"))) shouldBe 0L
      for (terms <- Seq(Seq("zeta"), Seq("eta", "theta"), Seq("alpha", "gamma", "eps"))) {
        withClue(s"topK $terms: ")(compiled(Bm25.topK(spark, idx, terms).collect()) shouldBe 0L)
        withClue(s"topKChampions $terms: ")(
          compiled(Bm25.topKChampions(spark, idx, terms).collect()) shouldBe 0L)
      }
      compiled { land(q2, "q2"); stream.processAllAvailable() } shouldBe 0L

      // the served batches landed under the same `batch_id=N` directories
      new java.io.File(s"$root/ledger").list().filter(_.startsWith("batch_id="))
        .sorted shouldBe Array("batch_id=0", "batch_id=1")
      spark.read.parquet(s"$root/ledger").where(col("batch_id") === 1)
        .select("term").distinct().collect().map(_.getString(0)).sorted shouldBe
        Array("delta", "eps", "gamma")
    } finally stream.stop()
  }

  test("the term predicate selects the rows isin does and still pushes down as In") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val idx = s"${tmp("cg-in")}/index"
    Layouts.bm25Index(docs(0, 40), idx)
    val post = spark.read.parquet(Layouts.indexRoot(s"$idx/postings"))
    for (terms <- Seq(Seq("alpha"), Seq("beta", "nope"), Seq("gamma", "delta", "eta"), Nil)) {
      def rows(df: DataFrame) = df.collect().map(_.toSeq.toList).toSet
      withClue(s"$terms: ")(
        rows(post.where(Bm25.termIn(terms))) shouldBe rows(post.where(col("term").isin(terms: _*))))
    }
    post.where(Bm25.termIn(Seq("alpha", "beta"))).queryExecution.executedPlan
      .toString should include("PushedFilters: [In(term, [alpha,beta])")
  }

  test("the session's generated-class cache outlasts Spark's default 100 classes") {
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe
      graft.GraftSession.CodegenCacheEntries.toString
    // a Long literal is inlined into generated code: one new class per i
    def q(i: Int): Unit =
      spark.range(3).select((col("id") * 104729L + lit(i.toLong)).as("x")).collect()
    compiled(q(0)) should be > 0L
    (1 to 150).foreach(q)
    compiled(q(0)) shouldBe 0L
  }
}
