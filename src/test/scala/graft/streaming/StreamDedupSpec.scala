package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class StreamDedupSpec extends AnyFunSuite with Matchers {

  test("foreachBatch merge: only never-seen fingerprints reach the sink across batches") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("fb-in").toString
    val sink = java.nio.file.Files.createTempDirectory("fb-out").toString + "/dedup"
    def land(name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("fb-stage").toString
      rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val src = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath, java.nio.file.Paths.get(s"$in/$name.parquet"))
    }
    // the streaming-upsert pattern: each micro-batch anti-joins the SINK's
    // existing fingerprints (idempotent merge), so re-delivered texts never
    // append — state lives in the target table, not the stream
    val q = spark.readStream.schema(StreamDedup.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .withColumn("fp", expr("graft_poly_hash(lower(trim(text)))"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val fresh = batch.dropDuplicates("fp")
        val novel =
          if (new java.io.File(sink).exists())
            fresh.join(batch.sparkSession.read.parquet(sink).select("fp"), Seq("fp"), "left_anti")
          else fresh
        novel.write.mode("append").parquet(sink)
      }
      .start()
    try {
      land("b1", Seq((1L, "alpha"), (2L, "beta")))
      q.processAllAvailable()
      land("b2", Seq((3L, "alpha"), (4L, "gamma"))) // alpha re-delivered
      q.processAllAvailable()
      val texts = spark.read.parquet(sink).select("text").collect().map(_.getString(0))
      texts.length shouldBe 3 // alpha only once
      texts.toSet shouldBe Set("alpha", "beta", "gamma")
    } finally q.stop()
  }

  test("checkpointed restart is exactly-once: no reprocessing, no loss") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("eo-in").toString
    val out = java.nio.file.Files.createTempDirectory("eo-out").toString + "/sink"
    val ckpt = java.nio.file.Files.createTempDirectory("eo-ckpt").toString
    def writeBatch(name: String, ids: Range): Unit =
      ids.map(i => (i.toLong, s"text $i", "en", "src0", 10L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$in-stage/$name")
    def promote(name: String): Unit = {
      val src = new java.io.File(s"$in-stage/$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath, java.nio.file.Paths.get(s"$in/$name.parquet"))
    }
    def start() = spark.readStream.schema(StreamDedup.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .withColumn("fp", expr("hash(text)"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    writeBatch("b1", 0 until 100); promote("b1")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // restart from the SAME checkpoint with a new batch landed
    writeBatch("b2", 100 until 180); promote("b2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val rows = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0))
    rows.length shouldBe 180 // b1 not reprocessed after restart
    rows.toSet shouldBe (0L until 180L).toSet // nothing lost either
  }
  private lazy val spark = SparkTestSession.spark

  test("re-delivered document files are deduplicated by streaming state") {
    // stage the same corpus twice — a redelivery/duplicate-shard scenario
    val dir = java.nio.file.Files.createTempDirectory("stream-dedup").toString
    val src = java.nio.file.Paths.get(s"${SparkTestSession.sf0001}/documents.parquet")
    java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$dir/part-0.parquet"))
    java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$dir/part-1.parquet"))

    val query = StreamDedup.dedupByFingerprint(spark, dir, "stream_dedup_test")
    try {
      query.processAllAvailable()
      val out = spark.table("stream_dedup_test")
      out.count() shouldBe 500L // 1000 streamed rows, 500 distinct texts
      out.select("fp").distinct().count() shouldBe 500L
    } finally query.stop()
  }

  test("ingest-audit ledger is idempotent under micro-batch replay") {
    val spark = graft.SparkTestSession.spark
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("replay-jacidx").toString
    graft.sources.Layouts.jaccardIndex(
      docs.where(col("doc_id") % 2 === 0).limit(100), idx,
      groupBytes = 256L * 1024, pageRows = 2000)
    val ledger = java.nio.file.Files.createTempDirectory("replay-led").toString + "/ledger"
    val shard = docs.where(col("doc_id") % 2 === 1).limit(40)
    // foreachBatch is at-least-once: the SAME batch id delivered twice must
    // leave the ledger with exactly one row per doc, not two
    StreamDedup.auditBatch(shard, batchId = 0L, idx, ledger, threshold = 0.5)
    StreamDedup.auditBatch(shard, batchId = 0L, idx, ledger, threshold = 0.5)
    val led = spark.read.parquet(ledger)
    led.count() shouldBe 40L
    led.select("doc_id").distinct().count() shouldBe 40L
  }

  test("staged-index ingest audit: streaming ledger equals the batch probe exactly") {
    val spark = graft.SparkTestSession.spark
    import org.apache.spark.sql.functions._
    // corpus release: even-id docs, exact-jaccard index built ONCE
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ingest-jacidx").toString
    graft.sources.Layouts.jaccardIndex(
      docs.where(col("doc_id") % 2 === 0), idx,
      groupBytes = 256L * 1024, pageRows = 2000)
    // incoming feed: odd-id docs landing as TWO separate files (two triggers)
    val in = java.nio.file.Files.createTempDirectory("ingest-in").toString
    val ledger = java.nio.file.Files.createTempDirectory("ingest-led").toString + "/ledger"
    val ckpt = java.nio.file.Files.createTempDirectory("ingest-ckpt").toString
    def land(name: String, part: org.apache.spark.sql.DataFrame): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("ingest-stage").toString
      part.coalesce(1).write.mode("overwrite").parquet(stage)
      val src = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath, java.nio.file.Paths.get(s"$in/$name.parquet"))
    }
    val odd = docs.where(col("doc_id") % 2 === 1)
    land("b1", odd.where(col("doc_id") < 250))
    land("b2", odd.where(col("doc_id") >= 250))
    val q = StreamDedup.ingestAuditAgainstIndex(spark, in, idx, ledger, ckpt)
    try q.processAllAvailable() finally q.stop()
    // batch truth: the same probe over the whole shard at once — the ledger
    // must be IDENTICAL (per-doc classification never depends on batching)
    val batchLedger = odd.select(col("doc_id"))
      .join(graft.operators.Dedup
        .exactJaccardPairsStaged(odd, idx, "doc_id", "text", threshold = 0.5)
        .groupBy(col("in_id").as("doc_id"))
        .agg(count(lit(1)).as("n_dups"),
          max(floor(col("jac") * 1000000.0).cast("long")).as("best_jac_ppm")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("best_jac_ppm"), lit(0L)).as("best_jac_ppm"))
    val got = spark.read.parquet(ledger).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val want = batchLedger.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    got.length shouldBe odd.count()
    got shouldBe want
    want.exists(_._2 > 0) shouldBe true // the fixture does contain near-dups
  }

  test("staged-index probe refuses a threshold below the build threshold") {
    val spark = graft.SparkTestSession.spark
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("guard-jacidx").toString
    graft.sources.Layouts.jaccardIndex(
      docs.where(col("doc_id") % 2 === 0).limit(50), idx,
      groupBytes = 256L * 1024, pageRows = 2000, threshold = 0.5)
    val odd = docs.where(col("doc_id") % 2 === 1).limit(10)
    // at or above the build threshold: fine
    graft.operators.Dedup
      .exactJaccardPairsStaged(odd, idx, "doc_id", "text", threshold = 0.6)
    // below: the prefix rows cannot guarantee no-miss — must refuse loudly
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup
        .exactJaccardPairsStaged(odd, idx, "doc_id", "text", threshold = 0.3)
    }
    e.getMessage should include("build threshold")
  }

  test("watermark-bounded dedup drops in-bound re-deliveries, state stays bounded") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    // at-least-once re-delivery: same event_id lands twice (second copy
    // with a jittered timestamp, still inside the lateness bound) — the
    // key-only dedup must emit it once; a fresh id must pass
    val dir = java.nio.file.Files.createTempDirectory("wm-dedup").toString
    def land(name: String, rows: Seq[(Long, Long, Long)]): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("wm-stage").toString
      rows.map { case (id, sec, u) => (id, sec, u) }
        .toDF("event_id", "sec", "user_id")
        .selectExpr("event_id",
          "cast(timestamp_micros(sec * 1000000) as timestamp_ntz) AS ts",
          "user_id", "'c' AS event_type", "1.0 AS value", "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val src = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    val q = StreamDedup.dedupEventsWithinWatermark(spark, dir, "wm_dedup_test")
    try {
      land("f1", Seq((1L, 1000L, 7L), (2L, 1010L, 7L)))
      q.processAllAvailable()
      // event 1 re-delivered 5s later (inside the 1h bound) + a fresh id
      land("f2", Seq((1L, 1005L, 7L), (3L, 1020L, 7L)))
      q.processAllAvailable()
      val ids = spark.table("wm_dedup_test").select("event_id")
        .as[Long].collect().sorted
      ids shouldBe Array(1L, 2L, 3L) // each id exactly once
      (q.lastProgress != null) shouldBe true
    } finally q.stop()
  }

  test("admitBatch replay: self-excluded probe makes admit(b);admit(b) ≡ admit(b)") {
    val spark = graft.SparkTestSession.spark
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("admit-idx").toString
    graft.sources.Layouts.minhashIndex(docs.where(col("doc_id") % 3 === 0), idx,
      groupBytes = 256L * 1024, pageRows = 2000)
    val ledger = java.nio.file.Files.createTempDirectory("admit-led").toString + "/led"
    val g1 = docs.where(col("doc_id") % 3 === 1)
    StreamDedup.admitBatch(g1, batchId = 0L, idx, ledger, threshold = 0.5)
    def ledgerRows() = spark.read.parquet(ledger)
      .select(col("doc_id"), col("status"), col("engine_batch_id"),
        col("batch_id").cast("string"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sorted.toSeq
    def idxCounts() = Seq("fp", "banded", "shingles")
      .map(t => t -> spark.read.parquet(
        s"${graft.sources.Layouts.indexRoot(idx)(spark)}/$t").count()).toMap
    def probeG2() = graft.operators.Dedup.incrementalDedupStaged(
      docs.where(col("doc_id") % 3 === 2).limit(80), idx, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (led1, idx1, g2p1) = (ledgerRows(), idxCounts(), probeG2())
    led1.count(_._2 == "kept") should be > 0
    // the at-least-once replay: WITHOUT self-exclusion the probe would see
    // the batch's own fingerprints, classify everything exact_dup, and the
    // slice overwrite would erase the admitted docs — all three observations
    // below would change
    StreamDedup.admitBatch(g1, batchId = 0L, idx, ledger, threshold = 0.5)
    ledgerRows() shouldBe led1
    idxCounts() shouldBe idx1
    probeG2() shouldBe g2p1
    // and the grown index actually matters downstream (not a vacuous pin)
    g2p1.count(_._2 != "kept") should be > 0
  }

  test("admitBatch: two checkpoint lineages sharing one ledgerPath both survive") {
    // ADVICE r15: the ledger used to partition on the RAW engine batchId,
    // so a second lineage's batch 0 dynamically overwrote the first
    // lineage's batch_id=0 ledger slice (the index slices were already
    // lineage-namespaced). Both lineages' audit records must coexist, and
    // a replay of one lineage's batch must not touch the other's.
    val spark = graft.SparkTestSession.spark
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("admit2-idx").toString
    graft.sources.Layouts.minhashIndex(docs.where(col("doc_id") % 3 === 0), idx,
      groupBytes = 256L * 1024, pageRows = 2000)
    val ledger = java.nio.file.Files.createTempDirectory("admit2-led").toString + "/led"
    StreamDedup.admitBatch(docs.where(col("doc_id") % 3 === 1),
      batchId = 0L, idx, ledger, threshold = 0.5, streamId = "lineA")
    def byLineage() = spark.read.parquet(ledger)
      .groupBy(col("batch_id").cast("string"))
      .count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val afterA = byLineage()
    afterA.keySet shouldBe Set("lineA-b0")
    // lineage B restarts at engine batch 0 on the SAME ledger path
    StreamDedup.admitBatch(docs.where(col("doc_id") % 3 === 2),
      batchId = 0L, idx, ledger, threshold = 0.5, streamId = "lineB")
    val afterB = byLineage()
    afterB.keySet shouldBe Set("lineA-b0", "lineB-b0")
    afterB("lineA-b0") shouldBe afterA("lineA-b0") // A's audit intact
    // and a replay of B's batch leaves A untouched too
    StreamDedup.admitBatch(docs.where(col("doc_id") % 3 === 2),
      batchId = 0L, idx, ledger, threshold = 0.5, streamId = "lineB")
    byLineage() shouldBe afterB
  }
}
