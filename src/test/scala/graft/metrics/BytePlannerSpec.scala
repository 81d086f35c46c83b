package graft.metrics

import graft.SparkTestSession
import graft.operators.ParquetQuery
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class BytePlannerSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  /** Multi-row-group copy sorted by l_quantity so groups are prunable. */
  private lazy val staged: String = {
    val dir = java.nio.file.Files.createTempDirectory("byteplanner").toString
    SparkTestSession.spark.read
      .parquet(s"${SparkTestSession.sf001}/lineitem.parquet")
      .orderBy("l_quantity").coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .parquet(dir)
    dir
  }

  test("footer trailer parses (PAR1 magic + length, S1)") {
    val f = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val len = BytePlanner.readFooterLength(f)
    len should be > 0L
    len should be < new java.io.File(f).length()
  }

  test("staging produced multiple row groups") {
    BytePlanner.plan(staged, Nil, None).rowGroups should be > 1
  }

  test("no predicate ⇒ every group survives; projection shrinks bytes") {
    val all = BytePlanner.plan(staged, Nil, None)
    all.survivingGroups shouldBe all.rowGroups
    val narrow = BytePlanner.plan(staged, Seq("l_quantity"), None)
    narrow.plannedBytes should be < all.plannedBytes
    narrow.survivingGroups shouldBe all.rowGroups
  }

  test("selective predicate prunes groups; impossible predicate prunes all") {
    val half = BytePlanner.plan(staged, Seq("l_quantity"), Some("l_quantity > 25.0"))
    half.survivingGroups should be < half.rowGroups
    half.survivingGroups should be > 0
    val none = BytePlanner.plan(staged, Seq("l_quantity"), Some("l_quantity > 9999.0"))
    none.survivingGroups shouldBe 0
    none.plannedBytes shouldBe none.files.map(_.footerBytes).sum
  }

  test("NOT flips through AND/OR (De Morgan, v1 keep_row_group)") {
    // NOT (q <= 25 OR q >= 26) ≡ 25 < q < 26 — prunable per group
    val p = BytePlanner.plan(staged, Seq("l_quantity"),
      Some("NOT ( l_quantity <= 20.0 OR l_quantity >= 30.0 )"))
    p.survivingGroups should be < p.rowGroups
    p.survivingGroups should be > 0
  }

  /** Pruning soundness: any row group the planner drops must contain no
    * matching rows — equivalently, the query result over ONLY the planned
    * groups equals the full result. We check the implication the cheap way:
    * planner says 0 groups ⇒ the query really returns 0 rows, and planner
    * keeps fewer than all groups ⇒ result count matches the unpruned scan
    * (Spark's own pushdown would mask an unsound planner, so compare
    * against a collect-side filter).
    */
  test("string statistics prune lexicographically (v1 utf8 stats path)") {
    // sort by the string column so row-group string min/max are disjoint
    val dir = java.nio.file.Files.createTempDirectory("byteplanner-str").toString
    spark.read.parquet(s"${SparkTestSession.sf001}/lineitem.parquet")
      .orderBy("l_returnflag", "l_orderkey").coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .parquet(dir)
    val modes = spark.read.parquet(dir).collect().map(_.getAs[String]("l_returnflag"))
    for {
      op <- Seq("<", "<=", ">", ">=", "==")
      lit <- Seq("A", "B", "N", "R", "Z")
    } {
      val pred = s"l_returnflag $op $lit"
      val plan = BytePlanner.plan(dir, Seq("l_returnflag"), Some(pred))
      val truth = modes.count(m => op match {
        case "<" => m < lit
        case "<=" => m <= lit
        case ">" => m > lit
        case ">=" => m >= lit
        case "==" => m == lit
      })
      withClue(pred) {
        if (plan.survivingGroups == 0) truth shouldBe 0
        val sparkCount = ParquetQuery(spark, dir).where(pred)
          .aggregate("COUNT(l_orderkey)").df.collect().head.getLong(0)
        sparkCount shouldBe truth.toLong
      }
    }
    // equality on a mid value must actually prune on sorted data
    val eq = BytePlanner.plan(dir, Seq("l_returnflag"), Some("l_returnflag == N"))
    eq.survivingGroups should be < eq.rowGroups
  }

  test("BINARY stats compare in unsigned byte order, not UTF-16 order") {
    // parquet BINARY min/max are unsigned-byte-lexicographic and Spark's
    // UTF8String comparison is too; Java String order (UTF-16 code units)
    // disagrees exactly on supplementary-plane chars: U+10000 (UTF-8
    // F0 90 80 80) sorts ABOVE U+E000 (EE 80 80) in byte order but BELOW
    // it in UTF-16. A String-comparing planner would prune the group for
    // `s >= <U+E000>x` even though the U+10000 row matches.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("byteplanner-u8").toString
    Seq("a", "𐀀y").toDF("s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val plan = BytePlanner.plan(dir, Seq("s"), Some("s >= x"))
    plan.survivingGroups shouldBe 1
    // and the group really contains a matching row under Spark's semantics
    spark.read.parquet(dir).where("s >= 'x'").count() shouldBe 1L
  }

  test("i64 stats compare exactly above 2^53 (no double-rounding misprune)") {
    // At 2^62 the double gap is 1024: 2^62+1025 and 2^62+1026 both round to
    // 2^62+1024, where `min < x` is false and a double-compare planner would
    // unsoundly prune a group whose value (base+1025) matches `v < base+1026`.
    val dir = java.nio.file.Files.createTempDirectory("byteplanner-i64").toString
    val base = 1L << 62
    spark.range(1).selectExpr(s"${base}L + 1025 AS v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    BytePlanner.plan(dir, Seq("v"), Some(s"v < ${base + 1026}")).survivingGroups shouldBe 1
    BytePlanner.plan(dir, Seq("v"), Some(s"v > ${base + 1024}")).survivingGroups shouldBe 1
    // and genuine prunes still prune at exact precision
    BytePlanner.plan(dir, Seq("v"), Some(s"v < ${base + 1025}")).survivingGroups shouldBe 0
    BytePlanner.plan(dir, Seq("v"), Some(s"v == ${base + 1024}")).survivingGroups shouldBe 0
  }

  /** Page-index planning: coarse row groups + fine pages, sorted, so the
    * ColumnIndex must do the pruning the group stats can't.
    */
  private lazy val stagedPi: String = {
    val dir = java.nio.file.Files.createTempDirectory("byteplanner-pi").toString
    spark.read.parquet(s"${SparkTestSession.sf001}/lineitem.parquet")
      .orderBy("l_quantity").coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (16 * 1024 * 1024).toString)
      .option("parquet.page.size", (4 * 1024).toString)
      .option("parquet.page.row.count.limit", "500")
      .parquet(dir)
    dir
  }

  test("page planning reads fewer bytes than row-group planning at mid selectivity") {
    val pred = "l_quantity > 25.0"
    val rg = BytePlanner.plan(stagedPi, Seq("l_quantity"), Some(pred))
    val pp = BytePlanner.planPages(stagedPi, Seq("l_quantity"), pred)
    pp.pages should be > rg.rowGroups // fixture really is page-granular
    pp.survivingPages should be > 0
    pp.survivingPages should be < pp.pages
    pp.plannedBytes should be < rg.plannedBytes
  }

  test("multi-column page predicates combine by row-range algebra") {
    val single = BytePlanner.planPages(stagedPi, Seq("l_quantity"), "l_quantity > 25.0")
    // AND with an unselective second column: its pages all survive, so the
    // intersection equals the single-column ranges
    val andTrue = BytePlanner.planPages(stagedPi, Seq("l_quantity"),
      "l_quantity > 25.0 AND l_extendedprice > 0.0")
    andTrue.survivingPages shouldBe single.survivingPages
    // AND with an impossible second column empties the intersection
    val andFalse = BytePlanner.planPages(stagedPi, Seq("l_quantity"),
      "l_quantity > 25.0 AND l_extendedprice < 0.0")
    andFalse.survivingPages shouldBe 0
    // OR unions: at least as many pages as either arm alone
    val either = BytePlanner.planPages(stagedPi, Seq("l_quantity"),
      "l_quantity > 45.0 OR l_quantity < 5.0")
    val high = BytePlanner.planPages(stagedPi, Seq("l_quantity"), "l_quantity > 45.0")
    val low = BytePlanner.planPages(stagedPi, Seq("l_quantity"), "l_quantity < 5.0")
    either.survivingPages should be >= math.max(high.survivingPages, low.survivingPages)
    either.survivingPages should be <= high.survivingPages + low.survivingPages
    // De Morgan: NOT(a OR b) ≡ narrow band — still prunable
    val band = BytePlanner.planPages(stagedPi, Seq("l_quantity"),
      "NOT ( l_quantity <= 20.0 OR l_quantity >= 30.0 )")
    band.survivingPages should be > 0
    band.survivingPages should be < band.pages
  }

  test("page planning is sound: zero surviving pages ⇒ zero matching rows, and never under-selects") {
    val quantities = spark.read.parquet(stagedPi).collect()
      .map(_.getAs[Double]("l_quantity")).sorted
    for (t <- Seq(0.0, 10.5, 25.0, 49.0, 50.0, 60.0)) {
      val pred = s"l_quantity > $t"
      val pp = BytePlanner.planPages(stagedPi, Seq("l_quantity"), pred)
      val truth = quantities.count(_ > t)
      withClue(pred) {
        if (pp.survivingPages == 0) truth shouldBe 0
        // sorted fixture + 500-row pages: surviving pages must cover every
        // matching row — the planned page count can't be below ceil(truth/500)
        if (truth > 0) pp.survivingPages should be >= ((truth + 499) / 500)
      }
    }
    // impossible predicate: only the footer remains
    val none = BytePlanner.planPages(stagedPi, Seq("l_quantity"), "l_quantity > 9999.0")
    none.survivingPages shouldBe 0
    none.plannedBytes should be < 100000L
  }

  /** Bloom rung: UNSORTED layout (every group's min/max range covers every
    * point probe, so stats alone prune nothing) with bloom filters written
    * on the key column.
    */
  private lazy val stagedBloom: String = {
    val dir = java.nio.file.Files.createTempDirectory("byteplanner-bloom").toString
    spark.read.parquet(s"${SparkTestSession.sf001}/lineitem.parquet")
      .orderBy(org.apache.spark.sql.functions.expr("hash(l_orderkey)")) // decorrelate ⇒ unsorted keys
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .option("parquet.bloom.filter.enabled#l_orderkey", "true")
      // parquet-mr silently skips the bloom when a chunk stays fully
      // dictionary-encoded (the dictionary already gives exact membership);
      // a corpus-scale key column overflows the dictionary anyway
      .option("parquet.enable.dictionary#l_orderkey", "false")
      .parquet(dir)
    dir
  }

  test("bloom filter prunes equality probes stats can't, and never a present key") {
    val keys = spark.read.parquet(stagedBloom).collect()
      .map(_.getAs[Long]("l_orderkey")).toSet
    // TPC-H orderkeys are sparse: find absent keys strictly inside [min,max]
    val absent = (keys.min to keys.max).iterator.filterNot(keys).take(3).toSeq
    absent should not be empty
    absent.foreach { k =>
      val stats = BytePlanner.plan(stagedBloom, Seq("l_orderkey"), Some(s"l_orderkey == $k"))
      val bloom = BytePlanner.planBloom(stagedBloom, Seq("l_orderkey"), Some(s"l_orderkey == $k"))
      withClue(s"absent key $k") {
        // min/max is (near-)blind on the hash-shuffled layout: most groups'
        // ranges cover the probe; the bloom filter kills every one
        stats.survivingGroups should be > (stats.rowGroups / 2)
        bloom.survivingGroups shouldBe 0
        bloom.plannedBytes shouldBe bloom.files.map(_.footerBytes).sum
      }
    }
    // soundness: present keys always keep ≥1 group (no false negatives)
    keys.take(5).foreach { k =>
      BytePlanner.planBloom(stagedBloom, Seq("l_orderkey"), Some(s"l_orderkey == $k"))
        .survivingGroups should be > 0
    }
    // non-equality ops fall back to stats-only behavior
    val range = BytePlanner.planBloom(stagedBloom, Seq("l_orderkey"), Some("l_orderkey > 0"))
    range.survivingGroups shouldBe range.rowGroups
    // a bloom-absent conjunct kills the conjunction; a disjunction survives
    // through its other arm
    val k0 = absent.head
    BytePlanner.planBloom(stagedBloom, Seq("l_orderkey"),
      Some(s"l_orderkey == $k0 AND l_quantity > 0.0")).survivingGroups shouldBe 0
    BytePlanner.planBloom(stagedBloom, Seq("l_orderkey"),
      Some(s"l_orderkey == $k0 OR l_quantity > 0.0"))
      .survivingGroups should be > 0
  }

  test("F6 opt-in: negated float Equal prunes within machine epsilon, exact mode keeps") {
    // one row group whose double column is constantly 0.5; probe with a
    // literal one ulp away (|x - 0.5| = 1.11e-16 < f64::EPSILON). v1's
    // compare_floats prunes the group under NOT(c == x) — epsilon-equal
    // min and max — even though every row satisfies the predicate; the
    // exact default keeps it. This is the documented-lossy branch, which
    // is why it is an ablation flag and not the default.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("f6eps").toString
    Seq.fill(100)(0.5).toDF("d").coalesce(1).write.mode("overwrite").parquet(dir)
    val x = "0.5000000000000001" // 0.5 + Math.ulp(0.5)
    x.toDouble should not be 0.5
    val pred = Some(s"NOT (d == $x)")
    BytePlanner.plan(dir, Seq("d"), pred).survivingGroups shouldBe 1
    BytePlanner.plan(dir, Seq("d"), pred, floatEpsilonEq = true)
      .survivingGroups shouldBe 0
    // the positive Equal branch is exact in BOTH modes (v1's not=false arm
    // has no epsilon): a literal inside [min, max] keeps the group either way
    val eq = Some("d == 0.5")
    BytePlanner.plan(dir, Seq("d"), eq).survivingGroups shouldBe 1
    BytePlanner.plan(dir, Seq("d"), eq, floatEpsilonEq = true).survivingGroups shouldBe 1
  }

  test("F6 epsilon is per stat width: f32::EPSILON fires on FLOAT columns") {
    // FLOAT stats route through f32 arithmetic with f32::EPSILON
    // (v1/src/main.rs:716-722), not the f64 epsilon — a literal one f32
    // ulp from the stored value (5.96e-8, within 1.19e-7 but *far*
    // outside 2.22e-16) must prune under the flag. With a single f64
    // epsilon the flag was a silent no-op on float columns.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("f6eps32").toString
    Seq.fill(100)(0.5f).toDF("f").coalesce(1).write.mode("overwrite").parquet(dir)
    val x = "0.50000006" // nextUp(0.5f) — a DIFFERENT f32 than the stats
    x.toFloat should not be 0.5f
    val pred = Some(s"NOT (f == $x)")
    BytePlanner.plan(dir, Seq("f"), pred).survivingGroups shouldBe 1
    BytePlanner.plan(dir, Seq("f"), pred, floatEpsilonEq = true)
      .survivingGroups shouldBe 0
  }

  test("v2 truncated-string-stats ablation mis-prunes past the 8-byte prefix") {
    // v2 caches only the first 8 bytes of BINARY min/max
    // (v2/src/main.rs:291-298,378-386) and compares the FULL literal
    // against the truncated bounds (601-609, 931-936). The truncated max
    // UNDERESTIMATES the true max, so `==`/`>` against a literal that
    // shares the 8-byte prefix but extends past it wrongly prunes a group
    // that contains matches — the documented divergence, reproduced as an
    // opt-in flag (exact stats stay the default, like F6).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("truncstr").toString
    Seq.fill(100)("abcdefghz").toDF("s").coalesce(1).write.mode("overwrite").parquet(dir)
    val eq = Some("s == abcdefghz")
    BytePlanner.plan(dir, Seq("s"), eq).survivingGroups shouldBe 1
    BytePlanner.plan(dir, Seq("s"), eq, truncStringStats = 8)
      .survivingGroups shouldBe 0 // mis-prune: every row matches
    val gt = Some("s > abcdefgh")
    BytePlanner.plan(dir, Seq("s"), gt).survivingGroups shouldBe 1
    BytePlanner.plan(dir, Seq("s"), gt, truncStringStats = 8)
      .survivingGroups shouldBe 0 // truncated max == literal ⇒ not >
    // literals decided within the prefix are unaffected by truncation
    val lt = Some("s < abcdefgh")
    BytePlanner.plan(dir, Seq("s"), lt, truncStringStats = 8)
      .survivingGroups shouldBe 0
    BytePlanner.plan(dir, Seq("s"), Some("s >= abcdefgh"), truncStringStats = 8)
      .survivingGroups shouldBe 1
  }

  test("property grid: planner never prunes a group that holds matching rows") {
    val quantities = spark.read.parquet(staged).collect()
      .map(_.getAs[Double]("l_quantity"))
    for {
      op <- Seq("<", "<=", ">", ">=", "==")
      t <- Seq(-5.0, 0.0, 1.0, 10.5, 25.0, 26.0, 49.0, 50.0, 60.0)
    } {
      val pred = s"l_quantity $op $t"
      val plan = BytePlanner.plan(staged, Seq("l_quantity"), Some(pred))
      val truth = quantities.count(q => op match {
        case "<" => q < t
        case "<=" => q <= t
        case ">" => q > t
        case ">=" => q >= t
        case "==" => q == t
      })
      withClue(pred) {
        if (plan.survivingGroups == 0) truth shouldBe 0
        val sparkCount = ParquetQuery(spark, staged).where(pred)
          .aggregate("COUNT(l_quantity)").df.collect().head.getLong(0)
        sparkCount shouldBe truth.toLong
      }
    }
  }

  // ---- the footer-stats cache

  /** One single-file parquet dir of `v` = `values`, the file's path. */
  private def oneFile(values: Seq[Long]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("footercache").toString
    values.toDF("v").coalesce(1).write.mode("overwrite").parquet(dir)
    BytePlanner.listParquet(new java.io.File(dir)).head
  }

  /** Move `src` over `dst`, with the Hadoop local checksum file beside it. */
  private def replaceFile(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def crc(f: String) = Paths.get(new java.io.File(f).getParent, s".${new java.io.File(f).getName}.crc")
    Files.move(Paths.get(src), Paths.get(dst), StandardCopyOption.REPLACE_EXISTING)
    Files.move(crc(src), crc(dst), StandardCopyOption.REPLACE_EXISTING)
  }

  test("rewriting a file in place with different stats changes the plan") {
    val file = oneFile(1L to 100L)
    val dir = new java.io.File(file).getParent
    BytePlanner.plan(dir, Seq("v"), Some("v > 50")).survivingGroups shouldBe 1
    // same path, new content: v now tops out at 10
    replaceFile(oneFile(1L to 10L), file)
    val misses = BytePlanner.footerMisses
    BytePlanner.plan(dir, Seq("v"), Some("v > 50")).survivingGroups shouldBe 0
    BytePlanner.footerMisses shouldBe misses + 1
  }

  test("adding or removing a file in the directory changes the plan") {
    val file = oneFile(1L to 100L)
    val dir = new java.io.File(file).getParent
    val one = BytePlanner.plan(dir, Seq("v"), Some("v > 50"))
    one.files.map(_.path) shouldBe Seq(file)
    val added = s"$dir/part-added.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(oneFile(200L to 300L)),
      java.nio.file.Paths.get(added))
    val two = BytePlanner.plan(dir, Seq("v"), Some("v > 50"))
    two.files.map(_.path).toSet shouldBe Set(file, added)
    two.survivingGroups shouldBe 2
    two.plannedBytes should be > one.plannedBytes
    java.nio.file.Files.delete(java.nio.file.Paths.get(file))
    BytePlanner.plan(dir, Seq("v"), Some("v > 50")).files.map(_.path) shouldBe Seq(added)
  }

  test("4 threads planning the same predicates at once get identical plans") {
    // a fresh copy, so the threads race on cold entries too
    val dir = java.nio.file.Files.createTempDirectory("footercache-mt")
    BytePlanner.listParquet(new java.io.File(staged)).foreach { f =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(f), dir.resolve(new java.io.File(f).getName))
    }
    val preds = Seq(None, Some("l_quantity > 25.0"), Some("l_quantity <= 10.0"),
      Some("NOT ( l_quantity <= 20.0 OR l_quantity >= 30.0 )"), Some("l_quantity > 9999.0"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val start = new java.util.concurrent.CountDownLatch(1)
    val plans = try {
      val futures = (0 until 4).map { _ =>
        pool.submit[Seq[BytePlanner.Plan]] { () =>
          start.await()
          (0 until 5).flatMap(_ => preds.map(p => BytePlanner.plan(dir.toString, Seq("l_quantity"), p)))
        }
      }
      start.countDown()
      futures.map(_.get())
    } finally pool.shutdown()
    val serial = (0 until 5).flatMap(_ => preds.map(p => BytePlanner.plan(dir.toString, Seq("l_quantity"), p)))
    plans.foreach(_ shouldBe serial)
  }

  test("the cache's byte bound evicts the least recently used footer") {
    val (a, b) = (oneFile(1L to 100L), oneFile(1L to 100L))
    val conf = new org.apache.hadoop.conf.Configuration()
    val one = new BytePlanner.FooterCache(Long.MaxValue).get(a, conf)._2.estBytes
    // room for one of the two (equal-sized) footers, not both
    val cache = new BytePlanner.FooterCache(one * 3 / 2)
    cache.get(a, conf)
    cache.get(b, conf) // evicts a
    cache.estBytes shouldBe one
    cache.get(b, conf)
    cache.misses shouldBe 2 // b stayed
    cache.get(a, conf) // evicts b
    cache.misses shouldBe 3
    cache.get(b, conf)
    cache.misses shouldBe 4
  }
}
