package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkTestSession

/** The manifest-generation index layout (VERDICT r15 #5), the only
  * layout every lifecycle index family has: index builds publish generation
  * 0 under a manifest, and compaction is an immutable-generation publish,
  * so a LIVE admit loop and a compact can run concurrently.
  */
class ManagedCompactionSpec extends AnyFunSuite with Matchers {
  private def spark = SparkTestSession.spark
  private def docs = spark.read
    .parquet(s"${SparkTestSession.sf0001}/documents.parquet")

  private def freshManagedIndex(): String = {
    val idx = java.nio.file.Files.createTempDirectory("mgd-idx").toString
    Layouts.minhashIndex(docs.where(col("doc_id") % 4 === 0), idx,
      groupBytes = 256L * 1024, pageRows = 2000)
    idx
  }

  private def probe(idx: String, mod: Int) = graft.operators.Dedup
    .incrementalDedupStaged(docs.where(col("doc_id") % 4 === mod),
      idx, "doc_id", "text", 0.5)
    .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("managed compact folds committed slices, keeps the stream tail live, " +
      "and is probe-invariant") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val conf = spark.sparkContext.hadoopConfiguration
    val idx = freshManagedIndex()
    // a caller-named batch (folds) and two stream-lineage slices (tail
    // s1-b1 must stay live for its potential replay)
    Layouts.minhashAppend(docs.where(col("doc_id") % 4 === 1), idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("rel2"))
    Layouts.minhashAppend(docs.where(col("doc_id") % 8 === 2), idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("s1-b0"))
    Layouts.minhashAppend(docs.where(col("doc_id") % 8 === 6), idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("s1-b1"))
    val before = probe(idx, 3)
    val rowsBefore = Seq("fp", "banded", "shingles").map(t =>
      t -> spark.read.parquet(s"${Layouts.indexRoot(idx)}/$t")
        .drop("batch_id").distinct().count()).toMap
    Layouts.minhashCompact(idx, groupBytes = 256L * 1024, pageRows = 2000)
    val (v, root) = Layouts.currentGeneration(idx, conf)
    v shouldBe 1L
    // base + the live stream tail only; rel2 and s1-b0 folded into base
    val slices = spark.read.parquet(s"$root/banded")
      .select("batch_id").distinct().collect().map(_.getString(0)).toSet
    slices shouldBe Set("base", "s1-b1")
    probe(idx, 3) shouldBe before
    Seq("fp", "banded", "shingles").foreach { t =>
      spark.read.parquet(s"$root/$t").drop("batch_id").distinct()
        .count() shouldBe rowsBefore(t)
    }
    // previous generation retained as grace for in-flight readers
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(conf)
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx/g=000000000")) shouldBe true
    // ... and retired by the NEXT compact
    Layouts.minhashCompact(idx, groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.currentGeneration(idx, conf)._1 shouldBe 2L
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx/g=000000000")) shouldBe false
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx/g=000000001")) shouldBe true
  }

  test("replay of the last admitted batch AFTER a compact is still a no-op") {
    // the exact case the quiesced-index constraint existed for: batch
    // admitted, compact runs, then the at-least-once engine replays the
    // batch. The live-tail exemption keeps the batch's slice (and so its
    // self-exclusion) across the generation fold.
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val idx = freshManagedIndex()
    val ledger = java.nio.file.Files.createTempDirectory("mgd-led").toString + "/led"
    val g1 = docs.where(col("doc_id") % 4 === 1)
    graft.streaming.StreamDedup.admitBatch(g1, batchId = 0L, idx, ledger,
      threshold = 0.5, streamId = "lineA",
      groupBytes = 256L * 1024, pageRows = 2000)
    def ledgerRows() = spark.read.parquet(ledger)
      .select("doc_id", "status", "engine_batch_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    def probeNext() = probe(idx, 2)
    val (led1, p1) = (ledgerRows(), probeNext())
    led1.count(_._2 == "kept") should be > 0
    Layouts.minhashCompact(idx, groupBytes = 256L * 1024, pageRows = 2000)
    probeNext() shouldBe p1 // the fold itself is probe-invariant
    // the at-least-once replay against the COMPACTED index
    graft.streaming.StreamDedup.admitBatch(g1, batchId = 0L, idx, ledger,
      threshold = 0.5, streamId = "lineA",
      groupBytes = 256L * 1024, pageRows = 2000)
    ledgerRows() shouldBe led1
    probeNext() shouldBe p1
  }

  test("managed IVF: generation publish, live tail, probe invariance, " +
      "replay-after-compact") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val emb = spark.read
      .parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")
      .where(col("vec_id") >= 10)
    val idx = java.nio.file.Files.createTempDirectory("mgd-ivf").toString
    Layouts.ivfIndex(emb.where(col("vec_id") % 2 === 0), idx,
      centModulo = 50, twoLevel = Some(false))
    val odd = emb.where(col("vec_id") % 2 === 1)
    Layouts.ivfAppend(odd, idx, batchId = Some("s1-b0"))
    val queries = spark.read
      .parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")
      .where(col("vec_id") < 10)
    def topk() = graft.operators.SimilaritySearch
      .ivfTopKStaged(queries, idx, k = 3)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def assignRows() = spark.read
      .parquet(s"${Layouts.indexRoot(idx)}/assign")
      .select("corpus_id").collect().map(_.getLong(0)).sorted.toSeq
    val (p1, rows1) = (topk(), assignRows())
    p1 should not be empty
    Layouts.ivfCompact(idx)
    Layouts.currentGeneration(idx, conf)._1 shouldBe 1L
    // stream-shaped batch stays live through the fold; "base" absorbed
    // the build generation
    spark.read.parquet(s"${Layouts.indexRoot(idx)}/assign")
      .select("batch_id").distinct().collect()
      .map(_.getString(0)).toSet shouldBe Set("base", "s1-b0")
    topk() shouldBe p1
    assignRows() shouldBe rows1
    // at-least-once replay AFTER the compact: dynamic overwrite of the
    // live slice in the new generation, content unchanged
    Layouts.ivfAppend(odd, idx, batchId = Some("s1-b0"))
    topk() shouldBe p1
    assignRows() shouldBe rows1
  }

  test("managed compact records its fold set for the writer fix-up") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val idx = freshManagedIndex()
    Layouts.minhashAppend(docs.where(col("doc_id") % 4 === 1), idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("rel2"))
    Layouts.minhashCompact(idx, groupBytes = 256L * 1024, pageRows = 2000)
    val root = Layouts.indexRoot(idx)
    val folded = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_FOLDED")), "UTF-8")
    folded should include("rel2") // a delayed writer check must skip it
    folded should include("base")
  }

  test("admit loop runs LIVE across a concurrent compact with ledger and " +
      "final probe unchanged vs an uncompacted control") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def runLoop(compactDuring: Boolean): (Seq[(Long, String)], Map[Long, String]) = {
      val idx = freshManagedIndex()
      val base = java.nio.file.Files.createTempDirectory("mgd-loop").toString
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val cols = graft.streaming.StreamDedup.docSchema.fieldNames.map(col)
      def land(mod8a: Int, name: String): Unit = {
        val stage = s"$base/stage-$name"
        docs.where(col("doc_id") % 8 === mod8a).select(cols: _*)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val src = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(src.toPath,
          java.nio.file.Paths.get(s"$in/$name.parquet"))
      }
      val q = graft.streaming.StreamDedup.ingestAdmitLoop(
        spark, in, idx, s"$base/led", s"$base/ckpt", streamId = Some("L"),
        groupBytes = 256L * 1024, pageRows = 2000)
      try {
        land(1, "g1")
        q.processAllAvailable()
        // compact concurrently with the NEXT batches landing and being
        // admitted — the race the manifest layout exists to survive
        val compact = if (compactDuring) Some(Future {
          Layouts.minhashCompact(idx, groupBytes = 256L * 1024, pageRows = 2000)
        }) else None
        // one landing per drain so the batch order (and hence the probe
        // lineage) is identical in both runs — the compact races the
        // admits in the background either way
        land(5, "g2")
        q.processAllAvailable()
        land(2, "g3")
        q.processAllAvailable()
        compact.foreach(Await.result(_, 120.seconds))
        land(6, "g4")
        q.processAllAvailable()
      } finally q.stop()
      val led = spark.read.parquet(s"$base/led")
        .select("doc_id", "status").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      (led, probe(idx, 3))
    }
    val (ledCtl, probeCtl) = runLoop(compactDuring = false)
    val (ledCmp, probeCmp) = runLoop(compactDuring = true)
    ledCmp shouldBe ledCtl
    probeCmp shouldBe probeCtl
    ledCtl.count(_._2 == "kept") should be > 0
  }

  test("managed posting: publish, sealed append, replay no-op, fold, grace retirement") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val conf = spark.sparkContext.hadoopConfiguration
    val idx = java.nio.file.Files.createTempDirectory("mgd-post").toString
    def hits(): Set[Long] = {
      val pat = "table part"
      val tris = (0 to pat.length - 3).map(i => pat.substring(i, i + 3)).distinct
      spark.read.parquet(Layouts.indexRoot(idx))
        .where(col("tri").isin(tris: _*))
        .groupBy("doc_id").agg(countDistinct("tri").as("nt"))
        .where(col("nt") === tris.size)
        .join(docs, "doc_id").where(col("text").contains(pat))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    Layouts.postingIndex(docs.where(col("doc_id") % 2 === 0), idx,
      groupBytes = 256L * 1024, pageRows = 2000)
    val base = hits()
    base should not be empty
    Layouts.currentGeneration(idx, conf)._1 shouldBe 0L
    // append lands SEALED in the current generation and changes the hits
    val odd = docs.where(col("doc_id") % 2 === 1)
    Layouts.postingAppend(odd, idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("odd"))
    val grown = hits()
    grown should not equal base
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(conf)
    fs.exists(new org.apache.hadoop.fs.Path(
      s"${Layouts.indexRoot(idx)}/batch_id=odd/_SEALED")) shouldBe true
    // replayed append of the same batch id: a no-op at the row level too
    Layouts.postingAppend(odd, idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("odd"))
    val root0 = Layouts.indexRoot(idx)
    val rowsPerDoc = spark.read.parquet(root0)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    hits() shouldBe grown
    // rebase: folds everything into one base slice of a NEW generation
    Layouts.sortedRebase(idx, Seq("tri"),
      groupBytes = 256L * 1024, pageRows = 2000)
    val (v1, root1) = Layouts.currentGeneration(idx, conf)
    v1 shouldBe 1L
    spark.read.parquet(root1).select("batch_id").distinct()
      .collect().map(_.getString(0)).toSet shouldBe Set("base")
    hits() shouldBe grown
    spark.read.parquet(root1).groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe rowsPerDoc
    // grace: previous generation retained one cycle, retired by the next
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx/g=000000000")) shouldBe true
    Layouts.sortedRebase(idx, Seq("tri"),
      groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.currentGeneration(idx, conf)._1 shouldBe 2L
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx/g=000000000")) shouldBe false
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx/g=000000001")) shouldBe true
    hits() shouldBe grown
  }

  test("managed BM25: appends land sealed across a CONCURRENT aggregating " +
      "compact and the serve equals an uncompacted control") {
    // the fifth managed family (round 18): three per-table manifests,
    // fold shapes that actually merge (df deltas summed, champions
    // re-selected) — a batch may fold in one table while staying live in
    // another, which is safe exactly because every generation of a table
    // is content-equivalent under the merge-on-read probe
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def run(compactDuring: Boolean): Seq[Seq[Any]] = {
      val idx = java.nio.file.Files.createTempDirectory("mgd-bm25").toString
      Layouts.bm25Index(docs.where(col("doc_id") % 4 === 0), idx,
        groupBytes = 256L * 1024, pageRows = 2000)
      Layouts.bm25Append(docs.where(col("doc_id") % 4 === 1), idx,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("r1-b0"))
      val compact = if (compactDuring) Some(Future {
        Layouts.bm25Compact(idx, groupBytes = 256L * 1024, pageRows = 2000)
      }) else None
      Layouts.bm25Append(docs.where(col("doc_id") % 4 === 2), idx,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("r1-b1"))
      compact.foreach(Await.result(_, 120.seconds))
      Layouts.bm25Append(docs.where(col("doc_id") % 4 === 3), idx,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("r1-b2"))
      graft.operators.Bm25
        .topK(spark, idx, Seq("scan", "merge", "vector"))
        .collect().map(_.toSeq).toSeq
    }
    val control = run(compactDuring = false)
    control should not be empty
    run(compactDuring = true) shouldBe control
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def emb = spark.read
    .parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")

  test("every lifecycle index build is born managed: v0 published, tables at g=000000000") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val conf = spark.sparkContext.hadoopConfiguration
    val few = docs.where(col("doc_id") % 8 === 0)
    val (post, pos, bm, mh, ivf, tbl) =
      (tmp("born-post"), tmp("born-pos"), tmp("born-bm25"), tmp("born-mh"),
        tmp("born-ivf"), tmp("born-tbl"))
    Layouts.postingIndex(few, post, groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.positionalIndex(few, pos, groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.bm25Index(few, bm, groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.minhashIndex(few, mh, groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.ivfIndex(emb.where(col("vec_id") >= 10), ivf, centModulo = 50)
    Layouts.sortedTable(few.select("doc_id", "source"), tbl, Seq("doc_id"),
      provenance = true)
    val tables = Seq(post, pos, mh, ivf, tbl) ++
      Seq("postings", "deltas", "champions").map(t => s"$bm/$t")
    tables.foreach { t =>
      Layouts.currentGeneration(t, conf) shouldBe (0L -> s"$t/g=000000000")
      Layouts.indexRoot(t) shouldBe s"$t/g=000000000"
    }
    Layouts.manageBm25(bm) // every table resolves: a no-op check
    // parameter identity stays at the index path, one small file each
    Seq(bm, mh, ivf).foreach(p =>
      new java.io.File(s"$p/_params").isFile shouldBe true)
    // every born-managed table records its first-write-or-never provenance
    tables.foreach(t => Layouts.params(t, conf)("provenance") shouldBe
      (t == tbl).toString)
    new java.io.File(s"$ivf/cent").isDirectory shouldBe true
    spark.read.parquet(Layouts.indexRoot(tbl)).columns should contain("src_batch")
    spark.read.parquet(Layouts.indexRoot(post)).count() should be > 0L
  }

  test("index parameters round-trip through _params for all four families; " +
      "a missing _params throws naming the path") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val conf = spark.sparkContext.hadoopConfiguration
    val few = docs.where(col("doc_id") % 8 === 0)
    val (bm, mh, jac, ivf) =
      (tmp("params-bm25"), tmp("params-mh"), tmp("params-jac"), tmp("params-ivf"))
    Layouts.bm25Index(few, bm, groupBytes = 256L * 1024, pageRows = 2000,
      champions = 7)
    Layouts.minhashIndex(few, mh, k = 12, bands = 4, shingleN = 2,
      groupBytes = 256L * 1024, pageRows = 2000, provenance = true)
    Layouts.jaccardIndex(few, jac, shingleN = 2, threshold = 0.7,
      groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.ivfIndex(emb.where(col("vec_id") >= 10), ivf, centModulo = 25,
      twoLevel = Some(true))
    Layouts.bm25Champions(bm) shouldBe 7
    Layouts.minhashParams(mh) shouldBe ((12, 4, 2))
    Layouts.params(mh, conf)("provenance") shouldBe "true"
    Layouts.jaccardParams(jac) shouldBe ((0.7, 2))
    Layouts.params(ivf, conf) shouldBe
      Map("cent_modulo" -> "25", "two_level" -> "true", "provenance" -> "false")
    val bare = tmp("params-none")
    intercept[IllegalArgumentException](Layouts.params(bare, conf))
      .getMessage should include(bare)
    intercept[IllegalArgumentException](Layouts.jaccardParams(bare))
      .getMessage should include(bare)
  }

  test("a build that crashed before its publish: indexRoot throws, the re-run " +
      "clears the unpublished generation and publishes") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val idx = tmp("crash-build")
    Layouts.postingIndex(docs.where(col("doc_id") % 2 === 0), idx,
      groupBytes = 256L * 1024, pageRows = 2000)
    // the disk state of a crash between the gen-0 write and the publish
    scala.reflect.io.Directory(new java.io.File(s"$idx/_manifest"))
      .deleteRecursively() shouldBe true
    new java.io.File(s"$idx/g=000000000").isDirectory shouldBe true
    val e = intercept[IllegalArgumentException](Layouts.indexRoot(idx))
    e.getMessage should include(idx)
    // parameters a crashed build left behind (here: an earlier build's
    // with a provenance the re-run does not use) are replaced, not kept
    val conf = spark.sparkContext.hadoopConfiguration
    Layouts.writeParams(idx, Map("provenance" -> true, "stale" -> 1), conf)
    // the re-run (over a different row set) must not keep the debris
    val quarter = docs.where(col("doc_id") % 4 === 0)
    Layouts.postingIndex(quarter, idx, groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.currentGeneration(idx, conf)._1 shouldBe 0L
    Layouts.params(idx, conf) shouldBe Map("provenance" -> "false")
    val rebuilt = tmp("crash-ref")
    Layouts.postingIndex(quarter, rebuilt, groupBytes = 256L * 1024, pageRows = 2000)
    def rows(p: String) = spark.read.parquet(Layouts.indexRoot(p))
      .select("doc_id", "tri").orderBy("doc_id", "tri").collect().toSeq
    rows(idx) shouldBe rows(rebuilt)
  }

  test("a build into a path that already holds a published index is refused") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val conf = spark.sparkContext.hadoopConfiguration
    // IVF: rewriting cent over the published lists would pair new
    // centroids with the old generation's cells
    val ivf = tmp("refuse-ivf")
    val e0 = emb.where(col("vec_id") >= 10)
    Layouts.ivfIndex(e0, ivf, centModulo = 50, twoLevel = Some(false))
    val cents = spark.read.parquet(s"$ivf/cent").collect().toSet
    val e1 = intercept[IllegalArgumentException] {
      Layouts.ivfIndex(e0, ivf, centModulo = 25, twoLevel = Some(false))
    }
    e1.getMessage should (include(ivf) and include("new path"))
    spark.read.parquet(s"$ivf/cent").collect().toSet shouldBe cents
    Layouts.currentGeneration(ivf, conf)._1 shouldBe 0L
    // MinHash: the rebuild would have rewritten only the table dirs while
    // indexRoot kept resolving the old generation
    val mh = freshManagedIndex()
    val e2 = intercept[IllegalArgumentException] {
      Layouts.minhashIndex(docs, mh, groupBytes = 256L * 1024, pageRows = 2000)
    }
    e2.getMessage should include(mh)
    // BM25: any published table refuses the whole build
    val bm = tmp("refuse-bm25")
    Layouts.bm25Index(docs.where(col("doc_id") % 8 === 0), bm,
      groupBytes = 256L * 1024, pageRows = 2000)
    intercept[IllegalArgumentException] {
      Layouts.bm25Index(docs, bm, groupBytes = 256L * 1024, pageRows = 2000)
    }.getMessage should include(bm)
  }

  test("append, compact, retract and dropBatch refuse a directory without a " +
      "manifest, naming it") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // hand-made dirs: the right table names and columns, no manifest
    val few = docs.where(col("doc_id") % 8 === 0)
    val dir = tmp("unmanaged")
    few.select("doc_id").withColumn("batch_id", lit("base"))
      .write.partitionBy("batch_id").parquet(s"$dir/fp")
    few.select("doc_id").write.parquet(s"$dir/postings")
    def refused(what: String)(call: => Any): Unit =
      withClue(what) {
        intercept[IllegalArgumentException](call).getMessage should include(dir)
      }
    refused("postingAppend")(Layouts.postingAppend(few, dir, batchId = Some("b")))
    refused("sortedRebase")(Layouts.sortedRebase(dir, Seq("tri")))
    refused("retractFolded")(Layouts.retractFolded(dir, "b", Seq("tri")))
    refused("minhashAppend")(Layouts.minhashAppend(few, dir, batchId = Some("b")))
    refused("minhashCompact")(Layouts.minhashCompact(dir))
    refused("ivfAppend")(Layouts.ivfAppend(emb, dir, batchId = Some("b")))
    refused("ivfCompact")(Layouts.ivfCompact(dir))
    refused("bm25Append")(Layouts.bm25Append(few, dir, batchId = Some("b")))
    refused("bm25Compact")(Layouts.bm25Compact(dir))
    refused("manageBm25")(Layouts.manageBm25(dir))
    refused("bm25Retract")(Layouts.bm25Retract(dir, "b"))
    refused("dropBatch")(Layouts.dropBatch(dir, "b"))
    refused("indexRoot")(Layouts.indexRoot(dir))
  }
}
