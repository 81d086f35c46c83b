package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Known-answer tests for the round-17 hardening — the x171 segmentable-
  * length cap (VERDICT r16 #5): words past the cap bypass the per-char DP
  * unroll and are greedy-chunked, so one pathological unbroken token
  * can no longer drive an O(token-length) plan chain at 100 TB.
  */
class ExtensionRound17Spec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def entry(name: String) = QueryCatalog.all.find(_.name == name).get

  private def writeDocs(rows: Seq[(Long, String, String, String, Long)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("r17docs").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** Reference unigram-LM pieces: pf over every 1..4-char span occurrence
    * weighted by word frequency, milli log-probs per the x141 convention.
    */
  private def refLp(words: Map[String, Long]): Map[String, Long] = {
    val pf = scala.collection.mutable.Map.empty[String, Long]
    for ((w, wf) <- words; i <- 0 until w.length;
         j <- (i + 1) to math.min(w.length, i + 4))
      pf(w.substring(i, j)) = pf.getOrElse(w.substring(i, j), 0L) + wf
    val total = pf.values.sum.toDouble
    pf.map { case (p, f) =>
      p -> math.round(1000.0 * (math.log(f.toDouble) - math.log(total)))
    }.toMap
  }

  /** All (score, nPieces) segmentations of `w` into 1..4-char pieces. */
  private def bestSeg(w: String, lp: Map[String, Long]): (Long, Int) = {
    def go(pos: Int): Seq[(Long, Int)] =
      if (pos == w.length) Seq((0L, 0))
      else for {
        j <- (pos + 1) to math.min(w.length, pos + 4)
        (s, n) <- go(j)
      } yield (s + lp(w.substring(pos, j)), n + 1)
    go(0).maxBy { case (s, n) => (s, -n) }
  }

  test("x171: words past the 64-char cap are greedy-chunked, short words " +
      "still take the exact DP optimum") {
    val long = "x" * 70 // would be a 70-step DP unroll without the cap
    val tmp = writeDocs(Seq(
      (1L, s"ab ab cd $long", "en", "s0", 100L)))
    val lp = refLp(Map("ab" -> 2L, "cd" -> 1L, long -> 1L))
    val got = entry("x171_unigram_segment").build(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getInt(3))).toMap
    got.keySet shouldBe Set("ab", "cd", long)
    got("ab") shouldBe bestSeg("ab", lp)
    got("cd") shouldBe bestSeg("cd", lp)
    // pass-through: ceil(70/4) = 18 greedy chunks (17 x "xxxx" + "xx"),
    // scored with the same piece table the DP words use
    val chunkScore = 17L * lp("xxxx") + lp("xx")
    got(long) shouldBe (chunkScore, 18)
  }

  test("x171: an all-short corpus is unaffected by the cap machinery") {
    val tmp = writeDocs(Seq((1L, "ab ab cd", "en", "s0", 8L)))
    val lp = refLp(Map("ab" -> 2L, "cd" -> 1L))
    val got = entry("x171_unigram_segment").build(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getInt(3))).toMap
    got("ab") shouldBe bestSeg("ab", lp)
    got("cd") shouldBe bestSeg("cd", lp)
  }

  // doc 2/6 → base (even; both also carry the probe residue %4 == 2, so
  // each probes the index too — self-matches excluded by id), doc 5 →
  // batch g1 (folded by the rebase), doc 7 → batch g3 (live slice).
  // Docs 2/5/6 share text (simhash identical, hamming 0); doc 7 differs.
  private def simhashDocs() = writeDocs(Seq(
    (2L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
    (5L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
    (6L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
    (7L, "completely unrelated content with different words entirely", "en", "s0", 57L)))

  test("x173: probe hits base AND folded AND-not-unrelated across the " +
      "managed lifecycle") {
    val got = entry("x173_simhash_index_probe").build(spark, simhashDocs())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe Set((2L, 5L, 0L), (2L, 6L, 0L), (6L, 2L, 0L), (6L, 5L, 0L))
  }

  test("x174: retractFolded erases the folded batch's rows — probes no " +
      "longer match doc 5, still match base") {
    val got = entry("x174_retract_after_fold").build(spark, simhashDocs())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe Set((2L, 6L, 0L), (6L, 2L, 0L))
  }

  test("x176: minhash retract-after-fold — poison erased, shared " +
      "fingerprint survives via per-(fp, src_batch) dedup") {
    // g0 = doc 0 (text A), g1 = doc 1 (text B, kept), probe g2 = docs
    // 2 (text A — a true exact dup of base) and 5 (text C — unique).
    // The staging appends the PROBE docs as the folded poison, then
    // retracts it: doc 5 kept proves no poison leak (under-delete),
    // doc 2 exact_dup proves base's fp_A survived the retraction of the
    // poison's identical fp (over-delete — the per-(fp, src_batch) fold
    // dedup is the mechanism under test).
    val tmp = writeDocs(Seq(
      (0L, "alpha beta gamma delta epsilon", "en", "s0", 30L),
      (1L, "zeta eta theta iota kappa", "en", "s0", 25L),
      (2L, "alpha beta gamma delta epsilon", "en", "s0", 30L),
      (5L, "completely different unique content here", "en", "s0", 40L)))
    val got = entry("x176_minhash_retract_folded").build(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    got shouldBe Seq(("s0", 2L, 1L, 0L, 1L))
  }

  test("minhashRetractFolded guardrail: a provenance-less managed index refuses") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val docs = spark.read.parquet(s"${simhashDocs()}/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("mh-noprov").toString
    Layouts.minhashIndex(docs, idx, groupBytes = 256L * 1024, pageRows = 2000)
    intercept[IllegalArgumentException] {
      Layouts.minhashRetractFolded(idx, "g1")
    }
  }

  test("ivfRetractFolded guardrail: a provenance-less managed index refuses; " +
      "a provenance-mismatched append refuses") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val emb = spark.read
      .parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")
      .where(org.apache.spark.sql.functions.col("vec_id") >= 10)
    val idx = java.nio.file.Files.createTempDirectory("ivf-noprov").toString
    Layouts.ivfIndex(emb, idx, centModulo = 50, twoLevel = Some(false))
    intercept[IllegalArgumentException] {
      Layouts.ivfRetractFolded(idx, "g1")
    }
    // a provenanced append into a bare table forks the schema — refused
    intercept[IllegalArgumentException] {
      Layouts.ivfAppend(emb, idx, batchId = Some("g1"), provenance = true)
    }
  }

  test("retractFolded guardrails: no provenance → refuse; flat layout → refuse") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val docs = spark.read.parquet(s"${simhashDocs()}/documents.parquet")
    val rows = docs.selectExpr("doc_id", "doc_id % 7 AS k")
    // managed but provenance-less: the fold left no src_batch to filter
    val bare = java.nio.file.Files.createTempDirectory("rf-bare").toString
    Layouts.sortedTable(rows, bare, Seq("k"))
    intercept[IllegalArgumentException] {
      Layouts.retractFolded(bare, "g1", Seq("k"))
    }
    // hand-made flat (unmanaged): no manifest to resolve — refused
    val flat = java.nio.file.Files.createTempDirectory("rf-flat").toString
    Layouts.sortedStats(rows, flat, Seq("k"), batchId = Some("base"))
    intercept[RuntimeException] {
      Layouts.retractFolded(flat, "g1", Seq("k"))
    }
  }

  /** Reference BM25 — the exact IEEE tree x52/x178/x180 compute, for
    * bit-exact comparison (same op order, so doubles match exactly).
    */
  private def bm25Score(tf: Long, dl: Long, df: Long, n: Long, total: Long): Double = {
    val avgdl = total.toDouble / n
    val idf = ((n - df) + 0.5) / (df + 0.5)
    idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl))))
  }

  test("x178: BM25 served off the persisted index equals the hand-computed " +
      "full-corpus scoring, ties broken by doc_id") {
    val tmp = writeDocs(Seq(
      (1L, "scan scan merge", "en", "s0", 15L),
      (2L, "scan vector vector vector", "en", "s0", 25L),
      (3L, "merge other other", "en", "s0", 17L)))
    // n=3 docs, total=10 tokens; df: scan=2, merge=2, vector=1
    val sMerge = bm25Score(1, 3, 2, 3, 10) // d1 and d3: identical score
    val got = entry("x178_bm25_index_serve").build(spark, tmp).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    got shouldBe Seq(
      ("merge", 1, 1L, 1L, 3L, sMerge),
      ("merge", 2, 3L, 1L, 3L, sMerge),
      ("scan", 1, 1L, 2L, 3L, bm25Score(2, 3, 2, 3, 10)),
      ("scan", 2, 2L, 1L, 4L, bm25Score(1, 4, 2, 3, 10)),
      ("vector", 1, 2L, 3L, 4L, bm25Score(3, 4, 1, 3, 10)))
  }

  test("x179: char-class counts are exact per (source, lang)") {
    val tmp = writeDocs(Seq(
      (1L, "Ab1 c", "en", "s0", 5L),
      (2L, "x!y z", "en", "s0", 5L),
      (3L, "HELLO", "de", "s1", 5L)))
    val got = entry("x179_script_profile").build(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getDouble(9))).toSeq
    got shouldBe Seq(
      ("s0", "en", 2L, 10L, 5L, 1L, 1L, 2L, 1L, 0.6),
      ("s1", "de", 1L, 5L, 0L, 5L, 0L, 0L, 0L, 1.0))
  }

  test("x180: MRR and scaled-harmonic nDCG match the reference ranking " +
      "metrics on a hand-built corpus") {
    val docs = Seq(
      (1L, "filter filter filter stream"),
      (2L, "filter filter stream stream hash hash pad pad"),
      (3L, "filter hash pad"),
      (4L, "hash hash hash hash"))
    val tmp = writeDocs(docs.map { case (id, tx) => (id, tx, "en", "s0", tx.length.toLong) })
    val qs = Seq("filter", "stream", "hash")
    val toks = docs.map { case (id, tx) => id -> tx.split(" ").toSeq }.toMap
    val dl = toks.map { case (id, ts) => id -> ts.size.toLong }
    val n = docs.size.toLong
    val total = dl.values.sum
    val tf = (for ((id, ts) <- toks; q <- qs; c = ts.count(_ == q) if c > 0)
      yield (q, id) -> c.toLong).toMap
    val expected = qs.sorted.flatMap { q =>
      val hits = tf.collect { case ((`q`, id), c) => (id, c) }.toSeq
      val df = hits.size.toLong
      val scored = hits.map { case (id, c) =>
        (id, c, c - 1, bm25Score(c, dl(id), df, n, total)) }
      val sys = scored.sortBy { case (id, _, _, sc) => (-sc, id) }.take(10)
      val dcg = sys.zipWithIndex.map { case ((_, _, rel, _), i) =>
        rel * (27720L / (i + 2)) }.sum
      val firstRel = sys.zipWithIndex
        .collectFirst { case ((_, _, rel, _), i) if rel >= 1 => i + 1L }
      val ideal = scored.filter(_._3 >= 1).sortBy { case (id, _, rel, _) => (-rel, id) }
        .take(10)
      val idcg = ideal.zipWithIndex.map { case ((_, _, rel, _), i) =>
        rel * (27720L / (i + 2)) }.sum
      Some((q, scored.size.toLong, scored.count(_._3 >= 1).toLong,
        firstRel.map(1000000L / _).getOrElse(0L), dcg, idcg,
        if (idcg > 0) dcg.toDouble / idcg else 0.0))
    }
    val got = entry("x180_retrieval_ndcg").build(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    got shouldBe expected
  }

  test("x182/x183: BM25 append equals the from-scratch build, replay is a " +
      "no-op, retract equals never-appended — sidecars included") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val base = Seq((1L, "scan scan merge", "en", "s0", 15L),
      (2L, "scan vector vector vector", "en", "s0", 25L))
    val extra = (3L, "merge vector other", "en", "s0", 18L)
    val baseDir = writeDocs(base)
    val fullDir = writeDocs(base :+ extra)
    // from-scratch build over all three docs = the truth
    val truthIdx = java.nio.file.Files.createTempDirectory("bm25-truth").toString
    Layouts.bm25Index(spark.read.parquet(s"$fullDir/documents.parquet"),
      truthIdx, groupBytes = 256L * 1024, pageRows = 2000)
    // incremental: build on base, append doc 3, replay the append
    val incIdx = java.nio.file.Files.createTempDirectory("bm25-inc").toString
    Layouts.bm25Index(spark.read.parquet(s"$baseDir/documents.parquet"),
      incIdx, groupBytes = 256L * 1024, pageRows = 2000)
    val batch = spark.read.parquet(s"$fullDir/documents.parquet")
      .where(org.apache.spark.sql.functions.col("doc_id") === 3)
    Layouts.bm25Append(batch, incIdx, batchId = Some("g1"))
    Layouts.bm25Append(batch, incIdx, batchId = Some("g1")) // replay
    def rows(idx: String) = {
      // read through the shared probe plan: postings + sidecars
      val m = ExtensionCatalog.bm25TopK(spark, idx).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSeq
      m
    }
    rows(incIdx) shouldBe rows(truthIdx)
    // retract the batch: back to the base-only build, sidecars refreshed
    Layouts.bm25Retract(incIdx, "g1")
    val baseIdx = java.nio.file.Files.createTempDirectory("bm25-base").toString
    Layouts.bm25Index(spark.read.parquet(s"$baseDir/documents.parquet"),
      baseIdx, groupBytes = 256L * 1024, pageRows = 2000)
    rows(incIdx) shouldBe rows(baseIdx)
  }

  test("BM25 lifecycle guardrails: base retraction refused, pre-delta " +
      "layout refused, unknown-batch retraction refused (ADVICE r17)") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val tmp = writeDocs(Seq((1L, "scan merge", "en", "s0", 10L)))
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("bm25-guard").toString
    Layouts.bm25Index(docs, idx, groupBytes = 256L * 1024, pageRows = 2000)
    intercept[IllegalArgumentException] { Layouts.bm25Retract(idx, "base") }
    // a hand-made pre-delta layout (no deltas table, no manifests)
    // refuses O(batch) maintenance
    val flat = java.nio.file.Files.createTempDirectory("bm25-flat").toString
    docs.selectExpr("'scan' AS term", "doc_id", "1L AS tf", "2L AS dl")
      .write.parquet(s"$flat/postings")
    intercept[IllegalArgumentException] {
      Layouts.bm25Append(docs, flat, batchId = Some("g1"))
    }
    // a typo'd retraction must fail loudly, not report success while
    // the poison batch keeps serving
    intercept[IllegalArgumentException] { Layouts.bm25Retract(idx, "nope") }
  }

  test("x187: streamed BM25 probes equal the batch probe per index state, " +
      "and a replayed micro-batch overwrites its ledger slice") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    import graft.sources.Layouts
    val base = Seq((1L, "scan scan merge", "en", "s0", 15L),
      (2L, "scan vector vector vector", "en", "s0", 25L))
    val extra = (3L, "merge vector other", "en", "s0", 18L)
    val baseDir = writeDocs(base)
    val fullDir = writeDocs(base :+ extra)
    val root = java.nio.file.Files.createTempDirectory("sbm25").toString
    val idx = s"$root/idx"
    Layouts.bm25Index(spark.read.parquet(s"$baseDir/documents.parquet"),
      idx, groupBytes = 256L * 1024, pageRows = 2000)
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val queries = Seq((0L, "scan"), (1L, "merge"), (2L, "vector"))
      .toDF("query_id", "term")
    def land(name: String): Unit = {
      queries.coalesce(1).write.mode("overwrite").parquet(s"$root/st$name")
      val part = new java.io.File(s"$root/st$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$in/$name.parquet"))
    }
    val q = graft.streaming.StreamBm25.serve(
      spark, in, idx, s"$root/ledger", s"$root/ckpt", k = 10)
    try {
      land("q0"); q.processAllAvailable()
      Layouts.bm25Append(spark.read.parquet(s"$fullDir/documents.parquet")
        .where($"doc_id" === 3), idx, batchId = Some("g1"))
      land("q1"); q.processAllAvailable()
    } finally q.stop()
    def ledger(b: Long) = spark.read.parquet(s"$root/ledger")
      .where($"batch_id" === b)
      .select("term", "rank", "doc_id", "tf", "dl", "score").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    def batchProbe(d: String) = {
      val i2 = java.nio.file.Files.createTempDirectory("sbm25-ref").toString
      Layouts.bm25Index(spark.read.parquet(s"$d/documents.parquet"), i2,
        groupBytes = 256L * 1024, pageRows = 2000)
      graft.operators.Bm25.topK(spark, i2, Seq("scan", "merge", "vector"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    }
    ledger(0L) shouldBe batchProbe(baseDir) // pre-append index state
    ledger(1L) shouldBe batchProbe(fullDir) // post-append, sidecars swapped
    // replayed micro-batch: same batch id, dynamic overwrite → unchanged
    val before = ledger(1L)
    graft.streaming.StreamBm25.probeBatch(queries, 1L, idx, s"$root/ledger", 10)
    ledger(1L) shouldBe before
  }

  test("bm25Append without a batchId lands an anonymous slice that still " +
      "serves (and cannot be replayed as a no-op)") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val base = Seq((1L, "scan scan merge", "en", "s0", 15L),
      (2L, "scan vector vector vector", "en", "s0", 25L))
    val extra = (3L, "merge vector other", "en", "s0", 18L)
    val baseDir = writeDocs(base)
    val fullDir = writeDocs(base :+ extra)
    val idx = java.nio.file.Files.createTempDirectory("bm25-anon").toString
    Layouts.bm25Index(spark.read.parquet(s"$baseDir/documents.parquet"),
      idx, groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.bm25Append(spark.read.parquet(s"$fullDir/documents.parquet")
      .where(org.apache.spark.sql.functions.col("doc_id") === 3), idx)
    val truth = java.nio.file.Files.createTempDirectory("bm25-anon-t").toString
    Layouts.bm25Index(spark.read.parquet(s"$fullDir/documents.parquet"),
      truth, groupBytes = 256L * 1024, pageRows = 2000)
    def rows(i: String) = graft.operators.Bm25
      .topK(spark, i, Seq("scan", "merge", "vector")).collect()
      .map(_.toSeq).toSeq
    rows(idx) shouldBe rows(truth)
  }

  test("BM25 term probe materializes a fraction of the postings rows — " +
      "the row-group pruning the serving claim rests on") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    import graft.metrics.IoMetrics
    // a corpus wide enough in the term dimension that the term-sorted
    // postings span many row groups, so In(term, ...) has groups to skip
    val docs = spark.range(0, 60000).selectExpr(
      "id AS doc_id",
      "concat('t', CAST(id % 3000 AS STRING)) AS text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-io").toString
    Layouts.bm25Index(docs, idx, groupBytes = 16L * 1024, pageRows = 200,
      partitions = 4)
    val postings = Layouts.indexRoot(s"$idx/postings")
    def recordsFor(pred: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Long = {
      spark.sharedState.cacheManager.clearCache()
      val (_, rep) = IoMetrics.measure(spark, Seq(postings))(
        pred(spark.read.parquet(postings)).count())
      rep.recordsRead
    }
    // records MATERIALIZED from parquet is the pruning observable
    // (bytesRead double-counts footer/page-index ranges per split): the
    // probe's own term predicate (Bm25.termIn, pushed as In(term, ...))
    // must skip whole row groups, so it reads far fewer rows than a scan
    // under a NON-prunable predicate over the same column (length()
    // defeats min/max stats)
    val probe = recordsFor(_.where(
      graft.operators.Bm25.termIn(Seq("t1", "t2", "t3"))))
    val full = recordsFor(_.where(org.apache.spark.sql.functions
      .length(org.apache.spark.sql.functions.col("term")) > 0))
    full shouldBe 60000L
    probe should be > 0L
    probe.toDouble should be < full.toDouble * 0.2
  }

  test("x184: kappa matches the hand-computed contingency on a fixture " +
      "with known rater splits") {
    // a=1 iff n_chars > 300; b=1 iff > 55 tokens. Build 4 docs per cell.
    def text(tokens: Int) = Seq.fill(tokens)("w").mkString(" ")
    val tmp = writeDocs(Seq(
      (1L, text(60), "en", "s0", 400L), // a=1 b=1
      (2L, text(10), "en", "s0", 400L), // a=1 b=0
      (3L, text(60), "en", "s0", 100L), // a=0 b=1
      (4L, text(10), "en", "s0", 100L), // a=0 b=0
      (5L, text(10), "en", "s0", 100L))) // a=0 b=0
    val got = entry("x184_filter_agreement").build(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    val (n, n11, n10, n01, n00) = (5L, 1L, 1L, 1L, 2L)
    val po = (n11 + n00).toDouble / n
    val pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)).toDouble / (n * n)
    got shouldBe Seq(("s0", n, n11, n10, n01, n00, (po - pe) / (1.0 - pe)))
  }

  test("x185: budget selection keeps the quality-ordered prefix and drops " +
      "a source whose best doc alone exceeds the budget") {
    def text(tokens: Int) = Seq.fill(tokens)("w").mkString(" ")
    val tmp = writeDocs(Seq(
      (1L, text(10), "en", "s0", 500L), // kept: cum 10
      (2L, text(20), "en", "s0", 400L), // kept: cum 30
      (3L, text(3000), "en", "s0", 300L), // cum 3030 > 3000 -> dropped
      (4L, text(3100), "en", "s1", 900L))) // first doc over budget -> source absent
    val got = entry("x185_budget_selection").build(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    got shouldBe Seq(("s0", 2L, 30L, 400L))
  }

  test("x186: snake packing matches the reference deal and balances doc " +
      "counts within one") {
    def text(tokens: Int) = Seq.fill(tokens)("w").mkString(" ")
    // tokens 10..1 for doc_ids 1..10: global rank i = doc i
    val tmp = writeDocs((1L to 10L).map(i =>
      (i, text(11 - i.toInt), "en", "s0", 20L)))
    val ref = (1 to 10).map { rank =>
      val (round, pos) = ((rank - 1) / 8, (rank - 1) % 8)
      val shard = if (round % 2 == 0) pos else 7 - pos
      (shard.toLong, 11L - rank)
    }
    val expected = ref.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (sh, g) => (sh, g.size.toLong, g.map(_._2).sum) }
    val got = entry("x186_snake_shards").build(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe expected
    val counts = got.map(_._2)
    (counts.max - counts.min) should be <= 1L
  }

  test("x188: PRF expansion mines the top co-occurring tokens of each " +
      "term's feedback docs, excluding the query terms") {
    val tmp = writeDocs(Seq(
      (1L, "scan aaa aaa bbb", "en", "s0", 16L),
      (2L, "scan aaa ccc", "en", "s0", 12L),
      (3L, "merge bbb", "en", "s0", 9L),
      (4L, "vector ccc ccc", "en", "s0", 14L)))
    val got = entry("x188_prf_expansion").build(spark, tmp).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    got shouldBe Seq(
      ("merge", 1, "bbb", 1L),
      ("scan", 1, "aaa", 3L), ("scan", 2, "bbb", 1L), ("scan", 3, "ccc", 1L),
      ("vector", 1, "ccc", 2L))
  }

  test("x189: champion pruning drops a high-scoring low-tf doc and the " +
      "recall audit reports the 9/10 overlap") {
    // 54 docs with tf=2 but long dl (low length-normalized score), one
    // tf=1 TINY doc that outranks them all in the full serving but falls
    // outside the top-50-by-tf champion tier.
    val filler = Seq.fill(58)("w").mkString(" ")
    val docs = (1L to 54L).map(i =>
      (i, s"scan scan $filler", "en", "s0", 100L)) ++ Seq(
      (100L, "scan w", "en", "s0", 6L),
      (200L, "merge w", "en", "s0", 7L),
      (300L, "vector w", "en", "s0", 8L))
    val got = entry("x189_champion_recall").build(spark, writeDocs(docs))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe Seq(("merge", 1L, 1L), ("scan", 10L, 9L), ("vector", 1L, 1L))
  }

  test("x181: rendezvous assignment matches the reference argmax and every " +
      "8-to-9 move lands on the new node — including ids past the raw-" +
      "multiply overflow point") {
    // the mod-first quadratic lattice weight (VERDICT r17 #5): reduces
    // the id mod the prime BEFORE any multiply, so ids past ~3.5e9 (where
    // the old raw `doc_id * 2654435761` wrapped in Spark while DuckDB
    // errored) weight identically in every engine
    def shard(d: Long, m: Int): Long = {
      val y = d % 1000000007L
      (0 until m).map(nn =>
        ((y * y % 1000000007L * 2654435761L + y * 40503L
          + (nn + 1) * 97423001L) % 1000000007L, nn.toLong)).max._2
    }
    val ids = (0L until 100L) ++ (4000000000L until 4000000050L)
    val tmp = writeDocs(ids.map(i => (i, "t", "en", "s0", 1L)))
    val ref = ids.map(i => (shard(i, 8), shard(i, 9)))
    val expected = ref.groupBy(_._2).toSeq.sortBy(_._1).map { case (s9, g) =>
      (s9, g.size.toLong, g.count(p => p._1 != p._2).toLong,
        g.count(p => p._1 != p._2 && p._2 != 8L).toLong) }
    val got = entry("x181_rendezvous_shards").build(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    got shouldBe expected
    // the rendezvous minimal-movement property itself
    got.map(_._4).sum shouldBe 0L
    ref.count(p => p._1 != p._2) shouldBe ref.count(p => p._1 != p._2 && p._2 == 8L)
  }
}
