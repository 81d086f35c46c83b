package graft.operators

import graft.SparkTestSession
import graft.sources.Layouts
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Spark jobs per warm op on graft's BM25 lifecycle, pinned exactly. A job
  * count is deterministic for a plan sequence, unlike wall time, so a
  * change that adds a metadata job (a schema inference, a parameter read)
  * to an append, a probe or a compact fails here before it shows up as
  * driver latency.
  */
class JobCountSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  private def drain(): Unit =
    org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

  /** Jobs started by `body`, with the listener bus drained before and after
    * so no other op's job is billed to it.
    */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    drain()
    spark.sparkContext.addSparkListener(l)
    try { body; drain() } finally spark.sparkContext.removeSparkListener(l)
    n.get
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

  test("a warm BM25 append, plain probe, champion probe and compact run pinned job counts") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val idx = s"${java.nio.file.Files.createTempDirectory("jobs-bm25")}/index"
    Layouts.bm25Index(docs(0, 40), idx)
    val terms = Seq("alpha", "beta")
    // warm: one of each op
    Layouts.bm25Append(docs(40, 50), idx, batchId = Some("b1"))
    Bm25.topK(spark, idx, terms).collect()
    Bm25.topKChampions(spark, idx, terms).collect()
    Layouts.bm25Compact(idx)

    val counts = Seq(
      "append" -> jobs(Layouts.bm25Append(docs(50, 65), idx, batchId = Some("b2"))),
      "topK" -> jobs(Bm25.topK(spark, idx, terms).collect()),
      "topKChampions" -> jobs(Bm25.topKChampions(spark, idx, terms).collect()),
      "compact" -> jobs(Layouts.bm25Compact(idx)))
    // no op reads its parameters or infers a schema for a provenance
    // check; the append's new-doc guard still infers the postings schema
    counts shouldBe Seq("append" -> 15, "topK" -> 10, "topKChampions" -> 10, "compact" -> 12)
  }
}
