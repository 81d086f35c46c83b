package graft.queries

import graft.SparkTestSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Known-answer tests for the round-18 BM25 rework (VERDICT r17 #1–#4,
  * #8 + all four ADVICE r17 findings): slice-local df/(n, total) deltas
  * merged on read (maintenance O(batch), retraction pure slice
  * deletion, no sidecar swap left to race), the champion tier persisted
  * at build time, the manifest-managed lifecycle, and the RM3 second
  * pass.
  */
class ExtensionRound18Spec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def entry(name: String) = QueryCatalog.all.find(_.name == name).get

  private def writeDocs(rows: Seq[(Long, String, String, String, Long)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("r18docs").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** Reference BM25 — the exact IEEE tree Bm25.score computes. */
  private def bm25Score(tf: Long, dl: Long, df: Long, n: Long, total: Long): Double = {
    val avgdl = total.toDouble / n
    val idf = ((n - df) + 0.5) / (df + 0.5)
    idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl))))
  }

  test("BM25 deltas table carries per-slice df rows plus ONE global row, " +
      "and the merged read reproduces the corpus statistics") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val base = Seq((1L, "scan scan merge", "en", "s0", 15L),
      (2L, "scan vector vector vector", "en", "s0", 25L))
    val idx = java.nio.file.Files.createTempDirectory("bm25-delta").toString
    Layouts.bm25Index(spark.read.parquet(s"${writeDocs(base)}/documents.parquet"),
      idx, groupBytes = 256L * 1024, pageRows = 2000)
    val deltas = spark.read.parquet(Layouts.indexRoot(s"$idx/deltas"))
    // df rows: scan 2, merge 1, vector 1 (term non-null, n/total null)
    deltas.where(col("term").isNotNull)
      .select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("scan" -> 2L, "merge" -> 1L, "vector" -> 1L)
    // exactly one global row: (n = 2 docs, total = 7 tokens)
    val g = deltas.where(col("term").isNull)
      .select("n", "total").collect()
    g.length shouldBe 1
    (g.head.getLong(0), g.head.getLong(1)) shouldBe ((2L, 7L))
    // after an append the MERGED read sums base + batch deltas
    Layouts.bm25Append(
      Seq((3L, "merge vector other", "en", "s0", 18L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      idx, groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
    val merged = spark.read.parquet(Layouts.indexRoot(s"$idx/deltas"))
    merged.where(col("term").isNotNull)
      .groupBy("term").agg(org.apache.spark.sql.functions.sum("df").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("scan" -> 2L, "merge" -> 2L, "vector" -> 2L, "other" -> 1L)
    merged.where(col("term").isNull)
      .agg(org.apache.spark.sql.functions.sum("n"),
        org.apache.spark.sql.functions.sum("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head shouldBe ((3L, 10L))
  }

  test("bm25Append is O(batch) on disk: every pre-existing data file is " +
      "byte-identical and the batch lands as exactly one slice per table") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val base = (1L to 20L).map(i => (i, s"scan t$i t$i", "en", "s0", 10L))
    val idx = java.nio.file.Files.createTempDirectory("bm25-obatch").toString
    Layouts.bm25Index(spark.read.parquet(s"${writeDocs(base)}/documents.parquet"),
      idx, groupBytes = 256L * 1024, pageRows = 2000)
    def files(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(idx)
      val out = scala.collection.mutable.Map.empty[String, Long]
      java.nio.file.Files.walk(root).forEach { p =>
        val rel = root.relativize(p).toString
        if (java.nio.file.Files.isRegularFile(p) && !rel.endsWith("_SUCCESS")
            && !rel.contains(".crc"))
          out(rel) = java.nio.file.Files.size(p)
      }
      out.toMap
    }
    val before = files()
    Layouts.bm25Append(
      Seq((100L, "scan fresh", "en", "s0", 10L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      idx, groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
    val after = files()
    // nothing pre-existing was rewritten — the r17 design rewrote the
    // whole sidecar pair here
    before.foreach { case (rel, size) =>
      withClue(rel) { after.get(rel) shouldBe Some(size) }
    }
    // the growth is exactly the batch's three slices (in each table's
    // current generation), one data file each
    val fresh = after.keySet -- before.keySet
    Seq("postings", "deltas", "champions").foreach { t =>
      withClue(t) {
        fresh.count(f => f.startsWith(s"$t/g=000000000/batch_id=g1")
          && f.endsWith(".parquet")) shouldBe 1
      }
    }
    fresh.forall(_.contains("batch_id=g1")) shouldBe true
  }

  test("champion tier: persisted at build, merged-on-read across appends " +
      "equals a from-scratch rebuild's tier") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    // C = 2: base champions for 'hot' are d2 (tf 3) and d1 (tf 2); the
    // appended d10 (tf 4) must displace d1 in the MERGED tier
    val base = Seq(
      (1L, "hot hot", "en", "s0", 8L),
      (2L, "hot hot hot", "en", "s0", 11L),
      (3L, "hot", "en", "s0", 3L))
    val extra = (10L, "hot hot hot hot", "en", "s0", 15L)
    val idx = java.nio.file.Files.createTempDirectory("bm25-champ").toString
    Layouts.bm25Index(spark.read.parquet(s"${writeDocs(base)}/documents.parquet"),
      idx, groupBytes = 256L * 1024, pageRows = 2000, champions = 2)
    Layouts.bm25Append(
      Seq(extra).toDF("doc_id", "text", "lang", "source", "n_chars"),
      idx, groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
    val truth = java.nio.file.Files.createTempDirectory("bm25-champ-t").toString
    Layouts.bm25Index(
      spark.read.parquet(s"${writeDocs(base :+ extra)}/documents.parquet"),
      truth, groupBytes = 256L * 1024, pageRows = 2000, champions = 2)
    def tier(i: String) = graft.operators.Bm25
      .topKChampions(spark, i, Seq("hot")).collect().map(_.toSeq).toSeq
    tier(idx) shouldBe tier(truth)
    // and the tier really pruned: only C = 2 docs served
    tier(idx).length shouldBe 2
    tier(idx).map(_(2)) shouldBe Seq(10L, 2L) // tf 4 then tf 3
  }

  test("append guard (ADVICE r17): re-appending an existing doc_id fails " +
      "loudly, a same-batch replay passes, and the ledgered-upstream " +
      "opt-out bypasses") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val base = Seq((1L, "scan scan merge", "en", "s0", 15L),
      (2L, "scan vector", "en", "s0", 11L))
    val idx = java.nio.file.Files.createTempDirectory("bm25-dup").toString
    Layouts.bm25Index(spark.read.parquet(s"${writeDocs(base)}/documents.parquet"),
      idx, groupBytes = 256L * 1024, pageRows = 2000)
    val dup = Seq((1L, "scan again", "en", "s0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    intercept[IllegalArgumentException] {
      Layouts.bm25Append(dup, idx,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
    }
    // a fresh doc appends; its REPLAY (same batch id, same rows) is
    // exempt from the guard via own-slice exclusion and lands as a
    // dynamic-overwrite no-op
    val fresh = Seq((9L, "merge fresh", "en", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Layouts.bm25Append(fresh, idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g2"))
    Layouts.bm25Append(fresh, idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g2"))
    // opt-out for ledgered pipelines: the same duplicate is accepted
    Layouts.bm25Append(dup, idx, groupBytes = 256L * 1024, pageRows = 2000,
      batchId = Some("g3"), enforceNewDocs = false)
  }

  test("champion probe cost is independent of term df — the persisted " +
      "tier materializes O(C) rows where the full probe reads O(df)") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    import graft.metrics.IoMetrics
    // 'hot' lives in 30000 docs; the champion tier holds 50
    val docs = spark.range(0, 60000).selectExpr(
      "id AS doc_id",
      "CASE WHEN id % 2 = 0 THEN 'hot' ELSE concat('t', CAST(id AS STRING)) END AS text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-champ-io").toString
    Layouts.bm25Index(docs, idx, groupBytes = 16L * 1024, pageRows = 200,
      partitions = 4)
    def recordsFrom(table: String)(body: => Unit): Long = {
      spark.sharedState.cacheManager.clearCache()
      val (_, rep) = IoMetrics.measure(spark, Seq(s"$idx/$table"))(body)
      rep.recordsRead
    }
    val fullRead = recordsFrom("postings") {
      graft.operators.Bm25.topK(spark, idx, Seq("hot")).count(): Unit
    }
    val champRead = recordsFrom("champions") {
      graft.operators.Bm25.topKChampions(spark, idx, Seq("hot")).count(): Unit
    }
    fullRead should be >= 30000L // the stop-word's whole posting range
    champRead should be > 0L
    // the tier read is bounded by C per slice (plus page rounding),
    // nowhere near the term's df
    champRead.toDouble should be < fullRead.toDouble * 0.05
  }

  test("x190: managed BM25 lifecycle serves the hand-computed full-corpus " +
      "scoring across migrate + append + aggregating compact + append") {
    val tmp = writeDocs(Seq(
      (1L, "scan scan merge", "en", "s0", 15L), // base (%3 != 2)
      (3L, "merge other other", "en", "s0", 17L), // base
      (4L, "vector other", "en", "s0", 12L), // base
      (2L, "scan vector vector vector", "en", "s0", 25L), // g1 (%6 == 2)
      (5L, "merge vector scan", "en", "s0", 17L))) // g2 (%6 == 5)
    // full corpus: n=5, total=15; df: scan=3, merge=3, vector=3
    val got = entry("x190_bm25_managed_serve").build(spark, tmp).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    def sc(tf: Long, dl: Long, df: Long) = bm25Score(tf, dl, df, 5, 15)
    val expected = Seq(
      ("merge", (1L, 1L, 3L), (3L, 1L, 3L), (5L, 1L, 3L)),
      ("scan", (1L, 2L, 3L), (2L, 1L, 4L), (5L, 1L, 3L)),
      ("vector", (2L, 3L, 4L), (4L, 1L, 2L), (5L, 1L, 3L))).flatMap {
      case (term, a, b, c0) =>
        val scored = Seq(a, b, c0).map { case (id, tf, dl) =>
          (id, tf, dl, sc(tf, dl, 3L)) }
          .sortBy { case (id, _, _, s) => (-s, id) }
        scored.zipWithIndex.map { case ((id, tf, dl, s), i) =>
          (term, i + 1, id, tf, dl, s) }
    }
    got shouldBe expected
  }

  test("managed BM25 replay AFTER a compact is caught by the new-doc " +
      "guard — the one replay shape the fold makes unsafe") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val base = Seq((1L, "scan scan merge", "en", "s0", 15L),
      (2L, "scan vector", "en", "s0", 11L))
    val idx = java.nio.file.Files.createTempDirectory("bm25-refold").toString
    Layouts.bm25Index(spark.read.parquet(s"${writeDocs(base)}/documents.parquet"),
      idx, groupBytes = 256L * 1024, pageRows = 2000)
    val batch = Seq((9L, "merge fresh", "en", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Layouts.bm25Append(batch, idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
    Layouts.bm25Compact(idx, groupBytes = 256L * 1024, pageRows = 2000)
    // g1's rows folded into base: a replay would re-insert them as a new
    // g1 slice and double-count — the guard's own-slice exemption no
    // longer shields it (the rows now live in base), so it throws
    intercept[IllegalArgumentException] {
      Layouts.bm25Append(batch, idx,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
    }
  }

  test("BM25 lifecycle equivalence: a managed append/retract/compact " +
      "sequence serves exactly the from-scratch build of the survivors " +
      "— full tier AND champion tier") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val docs = spark.read
      .parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    def part(m: Int) = docs.where(col("doc_id") % 5 === m)
    val idx = java.nio.file.Files.createTempDirectory("bm25-life").toString
    Layouts.bm25Index(part(0), idx,
      groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.bm25Append(part(1), idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
    Layouts.bm25Append(part(2), idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g2"))
    Layouts.bm25Retract(idx, "g2")
    Layouts.bm25Compact(idx, groupBytes = 256L * 1024, pageRows = 2000)
    Layouts.bm25Append(part(3), idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g3"))
    Layouts.bm25Append(part(4), idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g4"))
    Layouts.bm25Retract(idx, "g4")
    // survivors: %5 in {0, 1, 3}
    val truth = java.nio.file.Files.createTempDirectory("bm25-life-t").toString
    Layouts.bm25Index(docs.where(col("doc_id") % 5 isin (0, 1, 3)), truth,
      groupBytes = 256L * 1024, pageRows = 2000)
    val qs = Seq("scan", "merge", "vector", "filter", "stream")
    def rows(f: (org.apache.spark.sql.SparkSession, String, Seq[String], Int) =>
        org.apache.spark.sql.DataFrame)(i: String) =
      f(spark, i, qs, 10).collect().map(_.toSeq).toSeq
    rows(graft.operators.Bm25.topK(_, _, _, _))(idx) shouldBe
      rows(graft.operators.Bm25.topK(_, _, _, _))(truth)
    rows(graft.operators.Bm25.topKChampions(_, _, _, _))(idx) shouldBe
      rows(graft.operators.Bm25.topKChampions(_, _, _, _))(truth)
  }

  test("Phrase slot algebra: overlapping occurrences and repeated-term " +
      "phrases count exactly") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val tmp = writeDocs(Seq((1L, "a a a b", "en", "s0", 7L)))
    val idx = java.nio.file.Files.createTempDirectory("pos-overlap").toString
    Layouts.positionalIndex(spark.read.parquet(s"$tmp/documents.parquet"),
      idx, groupBytes = 256L * 1024, pageRows = 2000)
    def occ(p: Seq[String]) = graft.operators.Phrase
      .occurrences(spark, idx, p).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    occ(Seq("a", "a")) shouldBe Map(1L -> 2L) // starts 1 and 2 overlap
    occ(Seq("a", "b")) shouldBe Map(1L -> 1L)
    occ(Seq("a", "a", "a")) shouldBe Map(1L -> 1L)
    occ(Seq("b", "a")) shouldBe Map.empty
    // a term absent from the corpus short-circuits the probe to empty
    // before the rarest-term intersection can even pick a candidate set
    occ(Seq("a", "zzz")) shouldBe Map.empty
    occ(Seq("b")) shouldBe Map(1L -> 1L) // single-term: n_occ = tf
  }

  test("x192: phrase top-k ranks by occurrence count with doc_id ties") {
    val tmp = writeDocs(Seq(
      (1L, "table hash table hash x", "en", "s0", 23L), // 2 occurrences
      (2L, "table hash y", "en", "s0", 12L), // 1
      (3L, "table y hash", "en", "s0", 12L), // gap — not a phrase hit
      (4L, "hash table hash", "en", "s0", 15L))) // 1 (start 2)
    val got = entry("x192_phrase_index_serve").build(spark, tmp).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe Seq((1, 1L, 2L), (2, 2L, 1L), (3, 4L, 1L))
  }

  test("x193: multi-phrase decontamination audit counts docs and " +
      "occurrences per phrase from one probe") {
    val tmp = writeDocs(Seq(
      (1L, "slow hash batch merge group", "en", "s0", 27L),
      (2L, "merge group merge group", "en", "s0", 23L),
      (3L, "part filter scan", "en", "s0", 16L),
      (4L, "part filter x scan", "en", "s0", 18L)))
    val got = entry("x193_phrase_decontam").build(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe Seq(
      ("merge group", 2L, 3L),
      ("part filter scan", 1L, 1L),
      ("slow hash batch", 1L, 1L))
  }

  test("x194: positional append + replay serves the full corpus — the " +
      "sixth family's lifecycle on the generic engine") {
    val tmp = writeDocs(Seq(
      (2L, "table hash", "en", "s0", 10L), // base (even)
      (4L, "hash table", "en", "s0", 10L), // base, reversed — no hit
      (1L, "table hash table hash", "en", "s0", 21L))) // appended (odd)
    val got = entry("x194_phrase_append_serve").build(spark, tmp).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe Seq((1, 1L, 2L), (2, 2L, 1L))
  }

  test("x191: RM3 second pass matches an independent reference " +
      "implementation — expansion mining, ordered weighted fold, nDCG delta") {
    val docsSeq = Seq(
      (1L, "scan scan aaa"),
      (2L, "scan aaa bbb bbb"),
      (3L, "merge merge bbb"),
      (4L, "vector vector ccc"),
      (5L, "aaa ccc ccc"),
      (6L, "merge ccc"))
    val tmp = writeDocs(docsSeq.map { case (id, tx) =>
      (id, tx, "en", "s0", tx.length.toLong) })
    val qs = Seq("merge", "scan", "vector")
    // ---- independent reference on plain collections
    val toks = docsSeq.map { case (id, tx) => id -> tx.split(" ").toSeq }.toMap
    val dl = toks.map { case (id, ts) => id -> ts.size.toLong }
    val n = docsSeq.size.toLong
    val total = dl.values.sum
    def tf(t: String, d: Long) = toks(d).count(_ == t).toLong
    def docsWith(t: String) = toks.keys.filter(d => tf(t, d) > 0).toSeq.sorted
    def score(t: String, d: Long) =
      bm25Score(tf(t, d), dl(d), docsWith(t).size.toLong, n, total)
    def top10(t: String) = docsWith(t)
      .map(d => (d, score(t, d))).sortBy { case (d, s) => (-s, d) }.take(10)
    val expTerms: Map[String, Seq[String]] = qs.map { q =>
      val counts = top10(q).flatMap { case (d, _) => toks(d) }
        .filterNot(tok => qs.contains(tok) || tok.isEmpty)
        .groupBy(identity).map { case (tok, g) => tok -> g.size }
      q -> counts.toSeq.sortBy { case (tok, c) => (-c, tok) }.take(5).map(_._1)
    }.toMap
    val expected = qs.sorted.map { q =>
      val qmap = (expTerms(q).map(_ -> 1.0) :+ (q -> 2.0)).toMap
      val cands = qmap.keys.flatMap(docsWith).toSeq.distinct
      val second = cands.map { d =>
        val ws = qmap.toSeq.filter { case (t, _) => tf(t, d) > 0 }
          .sortBy(_._1) // ordered fold: term-ascending, like the engines
          .foldLeft(0.0) { case (acc, (t, w)) => acc + w * score(t, d) }
        (d, ws)
      }.sortBy { case (d, s) => (-s, d) }.take(10)
      def rel(d: Long) = tf(q, d) - 1
      val dcg1 = top10(q).zipWithIndex.map { case ((d, _), i) =>
        rel(d) * (27720L / (i + 2)) }.sum
      val dcg2 = second.zipWithIndex.map { case ((d, _), i) =>
        (if (tf(q, d) > 0) rel(d) else 0L) * (27720L / (i + 2)) }.sum
      val idcg = docsWith(q).map(d => (d, rel(d))).filter(_._2 >= 1)
        .sortBy { case (d, r) => (-r, d) }.take(10)
        .zipWithIndex.map { case ((_, r), i) => r * (27720L / (i + 2)) }.sum
      val (n1, n2) =
        (if (idcg > 0) dcg1.toDouble / idcg else 0.0,
          if (idcg > 0) dcg2.toDouble / idcg else 0.0)
      (q, dcg1, dcg2, idcg, n1, n2, n2 - n1)
    }
    val got = entry("x191_rm3_second_pass").build(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    got shouldBe expected
    // the fixture is chosen so expansion actually changes a ranking
    got.exists(_._7 != 0.0) shouldBe true
  }

  test("x195: positional retraction serves exactly the survivors — the " +
      "dropped batch's occurrences vanish, the base's stay") {
    val tmp = writeDocs(Seq(
      (1L, "table hash y", "en", "s0", 12L), // %3=1: survives
      (3L, "table hash table hash", "en", "s0", 21L), // %3=0: survives
      (2L, "table hash table hash table hash", "en", "s0", 32L), // retracted
      (5L, "table hash", "en", "s0", 10L))) // %3=2: retracted
    val got = entry("x195_phrase_retract_serve").build(spark, tmp).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 2's three occurrences (would rank first) and doc 5's one are gone
    got shouldBe Seq((1, 3L, 2L), (2, 1L, 1L))
  }

  test("near: anchor-relative window semantics — every non-anchor term " +
      "within the band, anchors counted, guards enforced") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    //            pos:  1 2 3 4 5 6 7
    val tmp = writeDocs(Seq(
      (1L, "a x b x a x c", "en", "s0", 13L),
      (2L, "a b c", "en", "s0", 5L),
      (3L, "a x x x b x c", "en", "s0", 13L))) // b at 5, c at 7: a@1 fails
    val idx = java.nio.file.Files.createTempDirectory("pos-near").toString
    Layouts.positionalIndex(spark.read.parquet(s"$tmp/documents.parquet"),
      idx, groupBytes = 256L * 1024, pageRows = 2000)
    def near(ts: Seq[String], w: Int) = graft.operators.Phrase
      .near(spark, idx, ts, w).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: a@1 (b@3 ok, c@7 no), a@5 (b@3 ok, c@7 ok) → 1 anchor
    // doc 2: a@1 (b@2, c@3) → 1; doc 3: a@1 (b@5 out of ±2) → none
    near(Seq("a", "b", "c"), 2) shouldBe Map(1L -> 1L, 2L -> 1L)
    // widening the window admits doc 3 and doc 1's first anchor (c@7 is
    // 6 positions from a@1, so only a ±6 band reaches it)
    near(Seq("a", "b", "c"), 6) shouldBe Map(1L -> 2L, 2L -> 1L, 3L -> 1L)
    // anchor choice is semantics: c-anchored counts c occurrences
    near(Seq("c", "a"), 2) shouldBe Map(1L -> 1L, 2L -> 1L)
    // a term absent from the corpus empties the result
    near(Seq("a", "zzz"), 3) shouldBe Map.empty
    // single term: every occurrence is an anchor
    near(Seq("b"), 1) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Phrase.near(spark, idx, Seq("a", "a"), 2)
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Phrase.near(spark, idx, Seq("a", "b"), 0)
  }

  test("x196: span-near top-k off the staged index ranks anchor counts") {
    val tmp = writeDocs(Seq(
      (1L, "hash join sort hash join sort", "en", "s0", 29L), // 2 anchors
      (2L, "hash x join sort x", "en", "s0", 18L), // 1 (join +2, sort +3)
      (3L, "sort join hash", "en", "s0", 14L), // 1 (unordered)
      (4L, "hash join x x x sort", "en", "s0", 20L))) // sort at +5: none
    val got = entry("x196_span_near").build(spark, tmp).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe Seq((1, 1L, 2L), (2, 2L, 1L), (3, 3L, 1L))
  }

  test("gapped: wildcard slots match any interior token; first/last must " +
      "be concrete") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.sources.Layouts
    val tmp = writeDocs(Seq(
      (1L, "merge x join merge join", "en", "s0", 24L), // start 1 hits
      (2L, "merge join x", "en", "s0", 12L), // gap absent — no hit
      (3L, "x merge merge join", "en", "s0", 18L))) // start 2 hits
    val idx = java.nio.file.Files.createTempDirectory("pos-gap").toString
    Layouts.positionalIndex(spark.read.parquet(s"$tmp/documents.parquet"),
      idx, groupBytes = 256L * 1024, pageRows = 2000)
    graft.operators.Phrase.gapped(spark, idx, Seq(0 -> "merge", 2 -> "join"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 1L, 3L -> 1L)
    // repeated-term template: "merge _ _ merge" — doc 1's merges sit 3
    // apart (pos 1 and 4), so only the length-4 template matches
    graft.operators.Phrase.gapped(spark, idx,
        Seq(0 -> "merge", 3 -> "merge"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 1L)
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Phrase.gapped(spark, idx, Seq(1 -> "merge"), 3)
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Phrase.gapped(spark, idx,
        Seq(0 -> "merge", 1 -> "join"), 3)
  }

  test("x199: RRF fuses the dense cosine ranking and the sparse BM25 " +
      "ranking in exact integers — ties break on doc_id, single-leg " +
      "docs keep one contribution") {
    val tmp = writeDocs(Seq(
      (7L, "scan", "en", "s0", 4L), // sparse-only: no corpus vector
      (11L, "scan scan merge", "en", "s0", 15L),
      (12L, "scan vector", "en", "s0", 11L),
      (13L, "merge merge", "en", "s0", 11L)))
    // queries 0-2; corpus >= 10 with centroids at vec_id 50/100 (the
    // %50 staging rule); doc 50/100 have vectors but no text terms
    (Seq((0L, Array(1f, 0f), 0), (1L, Array(0f, 1f), 0),
        (2L, Array(1f, 1f), 0), (11L, Array(10f, 1f), 0),
        (12L, Array(8f, 3f), 0), (13L, Array(1f, 9f), 0),
        (50L, Array(1f, 0f), 0), (100L, Array(0f, 1f), 0)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val L = 142813628717760L // LCM(61..70): every 1/(60+rank) exact
    val got = entry("x199_hybrid_rrf").build(spark, tmp).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSeq
    // q0 = vector (1,0) + term 'scan'. Dense cosine order over the
    // corpus: 50 (1.0), 11 (10/sqrt 101), 12 (8/sqrt 73), 13, 100.
    // Sparse BM25 'scan' order: 7 (tf1 dl1), 11 (tf2 dl3), 12 (tf1 dl2).
    // Fused: both-leg docs 11/12 lead; 7 and 50 TIE at L/61 -> doc_id.
    got shouldBe Seq(
      (1, 11L, 2 * (L / 62), Some(2L), Some(2L)),
      (2, 12L, 2 * (L / 63), Some(3L), Some(3L)),
      (3, 7L, L / 61, None, Some(1L)),
      (4, 50L, L / 61, Some(1L), None),
      (5, 13L, L / 64, Some(4L), None),
      (6, 100L, L / 65, Some(5L), None))
  }

  test("x200: doc ranking takes each doc's BEST chunk — a short on-topic " +
      "passage beats a denser whole-doc tf buried in length") {
    // doc 1 = 10 tokens -> chunks of 8 and 2; its 2-token chunk carries
    // tf 2 at dl 2 and wins the pool. doc 3 has no query terms but its
    // chunk still counts into n/total (passage-honest statistics).
    val tmp = writeDocs(Seq(
      (1L, "scan a b c d e f g scan scan", "en", "s0", 30L),
      (2L, "scan scan b", "en", "s0", 11L),
      (3L, "x y", "en", "s0", 3L)))
    val got = entry("x200_passage_maxpool").build(spark, tmp).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSeq
    // chunks: (1000: dl8 tf1), (1001: dl2 tf2), (2000: dl3 tf2),
    // (3000: dl2 tf0) -> n=4, total=15, df(scan)=3
    got shouldBe Seq(
      ("scan", 1, 1L, bm25Score(2, 2, 3, 4, 15), 2L),
      ("scan", 2, 2L, bm25Score(2, 3, 3, 4, 15), 1L))
  }

  test("x201: the best window maximizes distinct-term coverage with " +
      "earliest-start ties, and a later richer window beats an earlier " +
      "poorer one") {
    val tmp = writeDocs(Seq(
      (1L, "hash a join b sort", "en", "s0", 18L), // all 3 in [1,9)
      // join@2 alone; hash@10+sort@11 together -> best is the LATER s=10
      (2L, "x join x x x x x x x hash sort", "en", "s0", 30L),
      (3L, "sort sort hash", "en", "s0", 14L), // 2 terms from s=1
      (4L, "nothing here", "en", "s0", 12L))) // no query term: no row
    val got = entry("x201_best_snippet").build(spark, tmp).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // docs 2 and 3 tie at 2 terms -> doc_id order
    got shouldBe Seq((1, 1L, 1L, 3L), (2, 2L, 10L, 2L), (3, 3L, 1L, 2L))
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Phrase.bestWindow(spark, "/nonexistent", Seq("a", "a"), 8)
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Phrase.bestWindow(spark, "/nonexistent", Seq("a"), 0)
  }

  test("x198: the streaming decontam gate quarantines verbatim quotes " +
      "with batch attribution; clean docs produce no row") {
    val tmp = writeDocs(Seq(
      (2L, "table scan table scan", "en", "s0", 21L), // batch 0, 2 occ
      (4L, "clean doc here", "en", "s0", 14L), // batch 0, no row
      (1L, "slow query key order sort", "en", "s0", 26L), // batch 1, 2 phrases
      (3L, "scan table", "en", "s0", 10L))) // batch 1, reversed — clean
    val got = entry("x198_stream_phrase_decontam").build(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    got shouldBe Seq(
      (1L, "key order sort", 1L, 1L),
      (1L, "slow query", 1L, 1L),
      (2L, "table scan", 2L, 0L))
  }
}
