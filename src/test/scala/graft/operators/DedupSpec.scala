package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class DedupSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val planted = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today"),
    (1L, "the quick brown fox jumps over the lazy cat today"), // near-dup of 0
    (2L, "completely different text about spark query engines here"),
    (3L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 0
    (4L, "unrelated words describing parquet column statistics pruning")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized texts") {
    val out = Dedup.exact(planted).collect()
    out.map(_.getLong(2)).sum shouldBe 5 // every doc accounted for
    val dupGroup = out.filter(_.getLong(2) == 2)
    dupGroup should have length 1
    dupGroup.head.getLong(1) shouldBe 0L // representative = min doc_id
  }

  test("minhash LSH finds the planted near-duplicate and the exact dup") {
    val pairs = Dedup.minhashNearDups(planted, k = 16, bands = 8, shingleN = 3,
      threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should contain((0L, 3L)) // exact dup: jaccard 1.0
    pairs should contain((0L, 1L)) // near dup: 1-token edit
    pairs should contain((1L, 3L))
    // dissimilar docs never pass verification
    all(pairs.toSeq.map { case (a, b) => Set(a, b) }) should not contain 2L
  }

  test("simhash of identical texts is identical; near-dup within hamming 4") {
    val sh = Dedup.simhashed(planted, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    sh(0L) shouldBe sh(3L)
    java.lang.Long.bitCount(sh(0L) ^ sh(1L)) should be <= 4
    val pairs = Dedup.simhashNearDups(planted, lit(true), maxHamming = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should contain((0L, 3L))
    pairs should contain((0L, 1L))
  }

  test("ngram jaccard pairs respect the threshold and blocking") {
    val pairs = Dedup.ngramJaccardPairs(planted, n = 4, threshold = 0.5)
      .select("id_a", "id_b", "jac").collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    ids should contain((0L, 3L))
    pairs.filter(r => (r.getLong(0), r.getLong(1)) == ((0L, 3L)))
      .head.getDouble(2) shouldBe 1.0
  }

  test("prefix-filtered exact jaccard join equals the brute-force pair set") {
    // lossless claim of exactJaccardSelfPairs, checked on the fixture shard:
    // the prefix-filter candidates must reproduce the quadratic scan's
    // result EXACTLY — pairs, and jaccard values
    val sh = Dedup.minhashSignature(
        graft.GraftSession.table(spark, graft.SparkTestSession.sf0001, "documents")
          .where(col("doc_id") < 300),
        k = 16, shingleN = 3)
      .select(col("doc_id"), col("shingles"))
    val fast = Dedup.exactJaccardSelfPairs(sh, threshold = 0.5)
      .select("id_a", "id_b", "jac").as[(Long, Long, Double)].collect().toSet
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        graft.functions.TextFunctions.jaccard(col("a.shingles"), col("b.shingles")))
      .as[(Long, Long, Double)].collect().filter(_._3 >= 0.5).toSet
    fast shouldBe brute
    fast should not be empty // the fixture must exercise the join
    // the shuffle_hash pin is a PLAN choice, never a semantics one: the
    // prefix rows must be identical with the hint on and off (the knob
    // exists only to re-measure the broadcast mode while it still fits)
    val sorted = Dedup.stage(Dedup.sortedSets(sh, "doc_id", "shingles"))
    val freq = sorted.select(explode(col("s")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    def prefRows(hinted: Boolean) =
      Dedup.freqOrderedPrefix(sorted, freq, "doc_id", 0.5, freqShuffleHash = hinted)
        .select("doc_id", "ns", "tok", "rk")
        .as[(Long, Int, Long, Int)].collect().toSet
    prefRows(hinted = true) shouldBe prefRows(hinted = false)
  }

  test("prefix-filtered exact jaccard join: randomized equivalence, no cartesian") {
    // adversarial shapes the fixture lacks: tiny sets (|S|=1), identical
    // sets, disjoint sets, and heavy element reuse across docs
    val rnd = new scala.util.Random(13)
    val rows = (0L until 120L).map { i =>
      val n = 1 + rnd.nextInt(12)
      val base = if (i % 3 == 0) 0 else rnd.nextInt(40) // shared universes
      (i, (0 until n).map(_ => (base * 7 + rnd.nextInt(25)).toLong).distinct.toArray)
    }
    val df = rows.toDF("doc_id", "shingles")
    val fast = Dedup.exactJaccardSelfPairs(df, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = (for {
      (a, sa) <- rows; (b, sb) <- rows if a < b
      inter = sa.toSet.intersect(sb.toSet).size
      union = sa.length + sb.length - inter
      if union > 0 && inter.toDouble / union >= 0.6
    } yield (a, b)).toSet
    fast shouldBe brute
    val plan = Dedup.exactJaccardSelfPairs(df, threshold = 0.6)
      .queryExecution.optimizedPlan.toString
    plan should not include "Cartesian"
  }

  test("staged exact-jaccard probe equals the direct cross join (no-miss contract)") {
    val docs = graft.GraftSession.table(spark, graft.SparkTestSession.sf0001, "documents")
      .where(col("doc_id") < 400)
    val existing = docs.where(col("doc_id") % 2 === 0)
    val incoming = docs.where(col("doc_id") % 2 === 1)
    val idxDir = java.nio.file.Files.createTempDirectory("jacidx-spec").toString
    graft.sources.Layouts.jaccardIndex(existing, idxDir,
      groupBytes = 64L * 1024, pageRows = 500)
    val staged = Dedup.exactJaccardPairsStaged(incoming,
        spark.read.parquet(s"$idxDir/freq"),
        spark.read.parquet(s"$idxDir/pref"),
        spark.read.parquet(s"$idxDir/sets"),
        threshold = 0.5)
      .select("in_id", "ex_id").as[(Long, Long)].collect().toSet
    def sh(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignature(df, k = 16, shingleN = 3).select(col("doc_id"), col("shingles"))
    val brute = sh(incoming).as("a")
      .join(sh(existing).as("b"), lit(true))
      .select(col("a.doc_id"), col("b.doc_id"),
        graft.functions.TextFunctions.jaccard(col("a.shingles"), col("b.shingles")))
      .as[(Long, Long, Double)].collect().filter(_._3 >= 0.5).map(t => (t._1, t._2)).toSet
    staged shouldBe brute
    staged should not be empty // the fixture split must exercise the probe
  }

  test("prefix join under a pathologically hot token: AQE splits the skew, result stays exact") {
    // The one hot-bucket shape frequency-ordering CANNOT defuse: a massive
    // duplicate group. All its members share the same frequency profile, so
    // they keep the same prefix tokens — each such token becomes a join key
    // with |group| rows on BOTH sides. That skew is irreducible (the pairs
    // are real); the question is whether the engine bounds the max task.
    // This plants a 1500-doc identical group among 2000 disjoint singletons,
    // drops the AQE skew thresholds to fixture scale, and asserts (a) the
    // executed plan shows the skew split and (b) the pair set is still the
    // exact n·(n−1)/2 — the structural evidence SCALING.md's prefix-join
    // section points at.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption.filter(_ != null))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val group = (0L until 1500L).map(i => (i, Array(1L, 2L, 3L, 4L)))
      val singles = (0L until 2000L)
        .map(i => (10000L + i, Array(100L + i * 10, 101L + i * 10, 102L + i * 10, 103L + i * 10)))
      val df = (group ++ singles).toDF("doc_id", "shingles").repartition(8)
      val pairs = Dedup.exactJaccardSelfPairs(df, threshold = 0.5)
        .select("id_a", "id_b")
      // collect() (not count()) so the AQE-finalized plan is THIS dataset's
      pairs.collect().length shouldBe 1500 * 1499 / 2 // exact under skew
      val executed = pairs.queryExecution.executedPlan.toString
      executed should include("skew=true") // AQE split the hot partition
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("minhash LSH plan shuffles on band buckets, not all pairs") {
    val plan = Dedup.minhashNearDups(planted).queryExecution.optimizedPlan.toString
    // the candidate join must be an equi-join (band, bandhash) — never a
    // cartesian product over documents
    plan should not include "Cartesian"
  }

  test("minhash index meta: the path-form probe uses the BUILD parameters") {
    import org.apache.spark.sql.functions._
    val spark = graft.SparkTestSession.spark
    val docs = spark.read.parquet(s"${graft.SparkTestSession.sf0001}/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("mh-meta").toString
    // non-default signature family: k=32, bands=16, shingleN=2
    graft.sources.Layouts.minhashIndex(
      docs.where(col("doc_id") % 2 === 0), idx, k = 32, bands = 16, shingleN = 2,
      groupBytes = 256L * 1024, pageRows = 2000)
    val shard = docs.where(col("doc_id") % 2 === 1).limit(60)
    val viaPath = Dedup.incrementalDedupStaged(shard, idx, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // truth: the DF form WITH the matching parameters
    val root = graft.sources.Layouts.indexRoot(idx)(spark)
    val viaDf = Dedup.incrementalDedupStaged(shard,
      spark.read.parquet(s"$root/fp"),
      spark.read.parquet(s"$root/banded"),
      spark.read.parquet(s"$root/shingles"),
      k = 32, bands = 16, shingleN = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    viaPath shouldBe viaDf
    // a mismatched-parameter probe (the old silent failure) finds NO dups
    val mismatched = Dedup.incrementalDedupStaged(shard,
      spark.read.parquet(s"$root/fp"),
      spark.read.parquet(s"$root/banded"),
      spark.read.parquet(s"$root/shingles")) // defaults: k=16, bands=8, n=3
      .collect().map(_.getString(1))
    mismatched.count(_ == "near_dup") shouldBe 0
  }

  test("minhashAppend: probe of the grown index ≡ probe of a full rebuild") {
    import org.apache.spark.sql.functions._
    val spark = graft.SparkTestSession.spark
    val docs = spark.read.parquet(s"${graft.SparkTestSession.sf0001}/documents.parquet")
    val g0 = docs.where(col("doc_id") % 3 === 0)
    val g1 = docs.where(col("doc_id") % 3 === 1)
    val g2 = docs.where(col("doc_id") % 3 === 2).limit(80)
    // grown: build on gen-0, append ALL of gen-1 (admission filtering is
    // the catalog's business; equivalence must hold for any batch)
    val grown = java.nio.file.Files.createTempDirectory("mh-append").toString
    graft.sources.Layouts.minhashIndex(g0, grown,
      groupBytes = 256L * 1024, pageRows = 2000)
    graft.sources.Layouts.minhashAppend(g1, grown,
      groupBytes = 256L * 1024, pageRows = 2000)
    // rebuilt: one build over gen-0 ∪ gen-1
    val rebuilt = java.nio.file.Files.createTempDirectory("mh-rebuild").toString
    graft.sources.Layouts.minhashIndex(g0.union(g1), rebuilt,
      groupBytes = 256L * 1024, pageRows = 2000)
    def probe(p: String) = Dedup.incrementalDedupStaged(g2, p, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaGrown = probe(grown)
    viaGrown.size should be > 0
    viaGrown shouldBe probe(rebuilt)
    // the append actually matters: some gen-2 doc dups a gen-1 doc that
    // gen-0 alone would have admitted
    val gen0Only = java.nio.file.Files.createTempDirectory("mh-gen0").toString
    graft.sources.Layouts.minhashIndex(g0, gen0Only,
      groupBytes = 256L * 1024, pageRows = 2000)
    val viaGen0 = probe(gen0Only)
    viaGrown.count(_._2 != "kept") should be > viaGen0.count(_._2 != "kept")
  }

  test("minhashAppend with a batch id: replayed append is a row-level no-op") {
    import org.apache.spark.sql.functions._
    val spark = graft.SparkTestSession.spark
    val docs = spark.read.parquet(s"${graft.SparkTestSession.sf0001}/documents.parquet")
    val g0 = docs.where(col("doc_id") % 3 === 0)
    val g1 = docs.where(col("doc_id") % 3 === 1)
    val g2 = docs.where(col("doc_id") % 3 === 2).limit(80)
    val idx = java.nio.file.Files.createTempDirectory("mh-replay").toString
    graft.sources.Layouts.minhashIndex(g0, idx,
      groupBytes = 256L * 1024, pageRows = 2000)
    graft.sources.Layouts.minhashAppend(g1, idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("b1"))
    // row-level pin, not probe-level: the probe ABSORBS duplicated index
    // rows (fp semi-join, candidate distinct), so only table row counts
    // can distinguish a replaced slice from a doubled one
    val root = graft.sources.Layouts.indexRoot(idx)(spark)
    def counts() = Seq("fp", "banded", "shingles")
      .map(tbl => tbl -> spark.read.parquet(s"$root/$tbl").count()).toMap
    def probe() = Dedup.incrementalDedupStaged(g2, idx, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (countsOnce, probeOnce) = (counts(), probe())
    countsOnce.values.foreach(_ should be > 0L)
    graft.sources.Layouts.minhashAppend(g1, idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("b1"))
    counts() shouldBe countsOnce
    probe() shouldBe probeOnce
    // a hand-made pre-batch_id (flat, unmanaged) index must refuse: it
    // has no manifest to resolve and no slice to overwrite
    val legacy = java.nio.file.Files.createTempDirectory("mh-legacyflat").toString
    spark.read.parquet(s"$root/fp").select("fp").write.parquet(s"$legacy/fp")
    intercept[IllegalArgumentException] {
      graft.sources.Layouts.minhashAppend(g1, legacy,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("b1"))
    }.getMessage should include(legacy)
  }

  test("minhashCompact: probe-invariant rebase, fewer files, fp deduplicated") {
    import org.apache.spark.sql.functions._
    val spark = graft.SparkTestSession.spark
    val docs = spark.read.parquet(s"${graft.SparkTestSession.sf0001}/documents.parquet")
    val g0 = docs.where(col("doc_id") % 3 === 0)
    val g1 = docs.where(col("doc_id") % 3 === 1)
    val g2 = docs.where(col("doc_id") % 3 === 2).limit(80)
    val idx = java.nio.file.Files.createTempDirectory("mh-compact").toString
    graft.sources.Layouts.minhashIndex(g0, idx,
      groupBytes = 256L * 1024, pageRows = 2000)
    graft.sources.Layouts.minhashAppend(g1, idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("b1"))
    // duplicate fingerprints across generations: re-append g1's fps under
    // a second batch id (legal — e.g. a batch whose docs dup an earlier
    // one) so the compaction's fp distinct() has something to remove
    graft.sources.Layouts.minhashAppend(g1, idx,
      groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("b2"))
    def probe() = Dedup.incrementalDedupStaged(g2, idx, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def fp() = s"${graft.sources.Layouts.indexRoot(idx)(spark)}/fp"
    def files(tbl: String) = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(
        s"${graft.sources.Layouts.indexRoot(idx)(spark)}/$tbl"))
      try w.iterator().asScala.count(p =>
        p.toString.endsWith(".parquet") &&
          java.nio.file.Files.isRegularFile(p))
      finally w.close()
    }
    val (probeBefore, fpFilesBefore) = (probe(), files("fp"))
    val fpRowsBefore = spark.read.parquet(fp()).count()
    graft.sources.Layouts.minhashCompact(idx,
      groupBytes = 256L * 1024, pageRows = 2000)(spark)
    probeBefore.size should be > 0
    probe() shouldBe probeBefore // the rebase is invisible to probes
    files("fp") should be < fpFilesBefore // generations merged
    spark.read.parquet(fp()).count() should be < fpRowsBefore // dup fps gone
    // compacted index keeps its batch dimension: future appends still work
    spark.read.parquet(fp()).columns should contain("batch_id")
  }
}
