package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Contract of the persisted IVF index
  * ([[graft.sources.Layouts.ivfIndex]] +
  * [[SimilaritySearch.ivfTopKStaged]]): the staged probe returns exactly
  * what the in-session [[SimilaritySearch.ivfTopK]] computes from the same
  * centroid set, and the probe's scan of the cell-partitioned lists is
  * dynamic-partition-pruned — only the probed cell directories are read.
  */
class IvfIndexSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  private lazy val e =
    spark.read.parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")

  /** The index's current `assign` generation. */
  private def assignAt(p: String): String =
    s"${graft.sources.Layouts.indexRoot(p)(spark)}/assign"

  /** The index's recorded build parameters. */
  private def params(p: String): Map[String, String] =
    graft.sources.Layouts.params(p, spark.sparkContext.hadoopConfiguration)

  private lazy val indexDir: String = {
    val out = java.nio.file.Files.createTempDirectory("ivfspec").toString
    graft.sources.Layouts.ivfIndex(
      e.where(col("vec_id") >= 10), out, centModulo = 50)
    out
  }

  test("ivfAppend: append over base ≡ full rebuild (cells AND probe results)") {
    // base = even half, batch = odd half, same centroid sample (multiples
    // of 50 are even, so the even-half sample == the full-corpus sample)
    val corpus = e.where(col("vec_id") >= 10)
    val appended = java.nio.file.Files.createTempDirectory("ivfappend").toString
    graft.sources.Layouts.ivfIndex(
      corpus.where(col("vec_id") % 2 === 0), appended, centModulo = 50,
      twoLevel = Some(false))
    graft.sources.Layouts.ivfAppend(corpus.where(col("vec_id") % 2 === 1), appended)
    val rebuilt = java.nio.file.Files.createTempDirectory("ivfrebuild").toString
    graft.sources.Layouts.ivfIndex(corpus, rebuilt, centModulo = 50,
      twoLevel = Some(false))
    def cells(p: String) = spark.read.parquet(assignAt(p))
      .select(col("cent_id").cast("long"), col("corpus_id"))
      .orderBy("cent_id", "corpus_id").collect().toSeq
    val ac = cells(appended)
    ac.length should be > 0
    ac shouldBe cells(rebuilt)
    // the probe is oblivious to how the cells were populated
    val queries = e.where(col("vec_id") < 10)
    def probe(p: String) = SimilaritySearch
      .ivfTopKStaged(queries, p, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq.toList).toList
    probe(appended) shouldBe probe(rebuilt)
  }

  test("ivfAppend with a batch id: replayed append is a no-op (rows AND probe)") {
    val corpus = e.where(col("vec_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfreplay").toString
    graft.sources.Layouts.ivfIndex(
      corpus.where(col("vec_id") % 2 === 0), dir, centModulo = 50,
      twoLevel = Some(false))
    val odd = corpus.where(col("vec_id") % 2 === 1)
    def cells() = spark.read.parquet(assignAt(dir))
      .select(col("cent_id").cast("long"), col("corpus_id"))
      .orderBy("cent_id", "corpus_id").collect().toSeq
    def probe() = SimilaritySearch
      .ivfTopKStaged(e.where(col("vec_id") < 10), dir, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq.toList).toList
    graft.sources.Layouts.ivfAppend(odd, dir, batchId = Some("b1"))
    val (cellsOnce, probeOnce) = (cells(), probe())
    cellsOnce.length should be > 0
    // the retry-driven replay: same batch, same id — the dynamic slice
    // overwrite must replace (not duplicate) the batch's rows
    graft.sources.Layouts.ivfAppend(odd, dir, batchId = Some("b1"))
    cells() shouldBe cellsOnce
    probe() shouldBe probeOnce
  }

  test("a hand-made unmanaged IVF dir is refused by every append") {
    // hand-built x144-era layout: no corpusn column, assign partitioned on
    // cent_id only, parameters carrying ONLY cent_modulo, and no manifest
    // — no build of this library writes it, so no append may grow it
    val corpus = e.where(col("vec_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("ivflegacy").toString
    corpus.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
      .coalesce(1).write.parquet(s"$dir/cent")
    val centsFor = spark.read.parquet(s"$dir/cent")
      .select(col("cent_id").as("vec_id"), col("centv").as("embedding"))
    SimilaritySearch.invertedLists(
        corpus.where(col("vec_id") % 2 === 0), centsFor)
      .drop("corpusn")
      .write.partitionBy("cent_id").parquet(s"$dir/assign")
    graft.sources.Layouts.writeParams(dir, Map("cent_modulo" -> 50L),
      spark.sparkContext.hadoopConfiguration)
    val odd = corpus.where(col("vec_id") % 2 === 1)
    Seq(Some("b1"), None).foreach { bid =>
      intercept[IllegalArgumentException] {
        graft.sources.Layouts.ivfAppend(odd, dir, batchId = bid)
      }.getMessage should include(dir)
    }
  }

  test("dropBatch retracts exactly one batch; base generation refused") {
    val corpus = e.where(col("vec_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfretract").toString
    graft.sources.Layouts.ivfIndex(
      corpus.where(col("vec_id") % 2 === 0), dir, centModulo = 50,
      twoLevel = Some(false))
    graft.sources.Layouts.ivfAppend(corpus.where(col("vec_id") % 2 === 1), dir,
      batchId = Some("odd"))
    def cells() = spark.read.parquet(assignAt(dir))
      .select(col("cent_id").cast("long"), col("corpus_id"))
      .orderBy("cent_id", "corpus_id").collect().toSeq
    val clean = cells()
    // poison: rows from outside the corpus fence, their own batch
    graft.sources.Layouts.ivfAppend(e.where(col("vec_id") < 10), dir,
      batchId = Some("poison"))
    cells().length should be > clean.length
    val removed = graft.sources.Layouts.dropBatch(dir, "poison")(spark)
    removed should be > 0
    // retract-after-append ≡ never-appended; the odd batch is untouched
    cells() shouldBe clean
    // retracting a batch that does not exist is a no-op, not an error
    graft.sources.Layouts.dropBatch(dir, "nonexistent")(spark) shouldBe 0
    intercept[IllegalArgumentException] {
      graft.sources.Layouts.dropBatch(dir, "base")(spark)
    }
  }

  test("ivfCompact: one file per cell, probe-invariant, pruning intact") {
    val corpus = e.where(col("vec_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfcompact").toString
    graft.sources.Layouts.ivfIndex(
      corpus.where(col("vec_id") % 2 === 0), dir, centModulo = 50,
      twoLevel = Some(false))
    graft.sources.Layouts.ivfAppend(corpus.where(col("vec_id") % 2 === 1), dir,
      batchId = Some("odd"))
    def cells() = spark.read.parquet(assignAt(dir))
      .select(col("cent_id").cast("long"), col("corpus_id"))
      .orderBy("cent_id", "corpus_id").collect().toSeq
    def probe() = SimilaritySearch
      .ivfTopKStaged(e.where(col("vec_id") < 10), dir, k = 5, nprobe = 2)
    def files() = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(assignAt(dir)))
      try w.iterator().asScala.count(p =>
        p.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p))
      finally w.close()
    }
    val (cellsBefore, probeBefore, filesBefore) =
      (cells(), probe().orderBy("query_id", "rank").collect().map(_.toSeq.toList).toList, files())
    graft.sources.Layouts.ivfCompact(dir)(spark)
    cells() shouldBe cellsBefore
    files() should be < filesBefore // per-batch cell files merged
    val after = probe()
    after.orderBy("query_id", "rank").collect()
      .map(_.toSeq.toList).toList shouldBe probeBefore
    // the rebase must not cost the layout its probe-side physics
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning after compaction:\n$plan")
    // batch dimension preserved: future appends still slice
    spark.read.parquet(assignAt(dir)).columns should contain("batch_id")
  }

  test("ivfAppend honors the index's TWO-LEVEL assignment form from meta") {
    val corpus = e.where(col("vec_id") >= 10)
    val appended = java.nio.file.Files.createTempDirectory("ivfappend2l").toString
    graft.sources.Layouts.ivfIndex(
      corpus.where(col("vec_id") % 2 === 0), appended, centModulo = 50,
      twoLevel = Some(true))
    graft.sources.Layouts.ivfAppend(corpus.where(col("vec_id") % 2 === 1), appended)
    val rebuilt = java.nio.file.Files.createTempDirectory("ivfrebuild2l").toString
    graft.sources.Layouts.ivfIndex(corpus, rebuilt, centModulo = 50,
      twoLevel = Some(true))
    // the two-level assignment is a pure function of (row, centroid
    // table), so append ≡ rebuild must hold on this branch too
    def cells(p: String) = spark.read.parquet(assignAt(p))
      .select(col("cent_id").cast("long"), col("corpus_id"))
      .orderBy("cent_id", "corpus_id").collect().toSeq
    val ac = cells(appended)
    ac.length should be > 0
    ac shouldBe cells(rebuilt)
  }

  test("staged probe is row-identical to the in-session IVF search") {
    val queries = e.where(col("vec_id") < 10)
    val staged = SimilaritySearch
      .ivfTopKStaged(queries, indexDir, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect()
    val inSession = SimilaritySearch
      .ivfTopK(queries, e.where(col("vec_id") >= 10),
        e.where(col("vec_id") % 50 === 0 && col("vec_id") >= 10),
        k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect()
    staged.length should be > 0
    staged.map(_.toSeq.toList).toList shouldBe inSession.map(_.toSeq.toList).toList
  }

  test("probe scan of the inverted lists is dynamic-partition-pruned") {
    val df = SimilaritySearch.ivfTopKStaged(
      e.where(col("vec_id") < 10), indexDir, k = 5, nprobe = 2)
    df.collect()
    // the assign/ scan must carry a runtime partition filter on cent_id —
    // that is the "read only the probed cells" property the persisted
    // layout exists for
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in the probe plan:\n$plan")
  }

  test("index meta records the centroid sampling and assignment form") {
    val m = params(indexDir)
    (m("cent_modulo").toLong, m("two_level").toBoolean) shouldBe ((50L, false))
  }

  test("default build auto-selects two-level above the centroid threshold") {
    // centModulo = 1 → every corpus vector is a centroid: k > 128 on the
    // fixture, so the DEFAULT (no twoLevel arg) must resolve to the
    // two-level assignment and record it in _params — the scale-safe path a
    // naive 100 TB user gets without knowing the knob exists. The small-k
    // flat default is pinned by the parameters test above (k ≈ 13 at modulo 50).
    val out = java.nio.file.Files.createTempDirectory("ivfspecauto").toString
    val corpus = e.where(col("vec_id") >= 10)
    assert(corpus.count() > graft.sources.Layouts.IvfAutoTwoLevelCentroids)
    graft.sources.Layouts.ivfIndex(corpus, out, centModulo = 1)
    params(out)("two_level").toBoolean shouldBe true
    // layout contract unchanged: every vector listed exactly once
    val assign = spark.read.parquet(assignAt(out))
    assert(assign.count() == corpus.count())
  }

  test("two-level build: same layout contract, assignment mostly agrees with flat") {
    val out = java.nio.file.Files.createTempDirectory("ivfspec2l").toString
    val corpus = e.where(col("vec_id") >= 10)
    graft.sources.Layouts.ivfIndex(corpus, out, centModulo = 50, twoLevel = Some(true))
    val assign = spark.read.parquet(assignAt(out))
    // every corpus vector exactly once, every cell id a real centroid
    assert(assign.count() == corpus.count())
    assert(assign.select("corpus_id").distinct().count() == corpus.count())
    val centIds = spark.read.parquet(s"$out/cent")
      .collect().map(_.getAs[Long]("cent_id")).toSet
    val cellIds = assign.select(col("cent_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cellIds.subsetOf(centIds))
    // probe-1 coarse assignment is approximate ONLY at coarse-cell
    // boundaries — on the fixture the two builds must agree on a clear
    // majority of rows (x140's documented trade, quantified)
    val flat = SimilaritySearch.invertedLists(
      corpus, corpus.where(col("vec_id") % 50 === 0))
      .select(col("corpus_id"), col("cent_id").as("flat_cent"))
    val agree = assign.select(col("corpus_id"), col("cent_id").cast("long").as("tl_cent"))
      .join(flat, "corpus_id")
      .agg(avg(when(col("tl_cent") === col("flat_cent"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(agree >= 0.5, s"two-level/flat assignment agreement $agree < 0.5")
    // the staged probe runs unchanged against the two-level layout
    val probed = SimilaritySearch.ivfTopKStaged(
      e.where(col("vec_id") < 10), out, k = 5, nprobe = 2)
    probed.count() should be > 0L
    params(out)("two_level").toBoolean shouldBe true
  }
}
