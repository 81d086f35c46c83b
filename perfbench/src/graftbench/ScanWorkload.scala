package graftbench

import graft.metrics.{BytePlanner, RangedReader}
import graft.operators.ParquetQuery
import graft.sources.Layouts
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** `scan`: the paper's question — filter + five aggregates — answered by
  * both engines over a lineitem table staged as a directory of files
  * sorted by the filter column with many row groups. `v1` is the Spark
  * query (ParquetQuery → collect); `v2` is the metadata-only plan plus
  * the ranged read it prescribes (BytePlanner.plan + RangedReader.run).
  */
final class ScanWorkload(run: Run, in: Inputs.Scan) extends Workload {
  import run.spark

  /** Staged layout: 8 range-sorted files of ~256 KiB row groups. */
  val Files = 8
  val GroupBytes: Long = 256L * 1024

  private val base = s"${run.work}/lineitem"
  private def stagedAt(a: Int) = s"${run.work}/staged-$a"
  private var staged = ""
  private val aggSpecs = Inputs.Aggs.map { case (op, c) => s"$op($c)" }
  private var expected: IndexedSeq[Row] = IndexedSeq.empty
  private var planned = 0L
  private var physical = 0L

  Data.lineitem(spark, in, base)

  def setup(attempt: Int): Unit = {
    staged = stagedAt(attempt)
    Layouts.sortedStats(spark.read.parquet(base), staged, Seq("l_extendedprice"),
      groupBytes = GroupBytes, partitions = Files)
  }

  def dropSetup(attempt: Int): Unit = run.delete(stagedAt(attempt))

  /** The independent answer: plain Spark SQL over the unstaged table, all
    * predicates in one pass of conditional aggregates.
    */
  private def oracle(): IndexedSeq[Row] = {
    spark.read.parquet(base).createOrReplaceTempView("perfbench_lineitem")
    val cols = in.preds.flatMap { p =>
      Inputs.Aggs.map { case (op, c) =>
        val f = if (op == "COUNT") "count" else op.toLowerCase
        s"$f(CASE WHEN ${p.sql} THEN $c END)"
      }
    }
    val row = spark.sql(s"SELECT ${cols.mkString(", ")} FROM perfbench_lineitem").head()
    in.preds.indices.map(i => Row.fromSeq((0 until 5).map(j => row.get(i * 5 + j))))
  }

  private def columnsOf(p: Inputs.Pred): Seq[String] = p match {
    case Inputs.Cmp(c, _, _) => Seq(c)
    case Inputs.AndP(l, r) => columnsOf(l) ++ columnsOf(r)
    case Inputs.OrP(l, r) => columnsOf(l) ++ columnsOf(r)
    case Inputs.NotP(x) => columnsOf(x)
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Number, y: Number) => x.longValue == y.longValue
    case _ => false
  }

  /** Passes over the predicates in the warm-up. In a one-thread run, v1
    * p50 per 16 queries read 404, 341, 270, 250, 268, 227, 209 ms: most
    * of the fall is over by query 48, so 4 × 16 = 64 run before timing.
    * v2 times showed no trend, and one pass warms it.
    */
  val WarmupRounds = 4

  /** Untimed: the oracle, then [[WarmupRounds]] passes of every predicate
    * as v1 (the first pass also as v2), spread over one thread per core
    * to shorten it.
    * One op, failed if any answer is wrong.
    */
  def warmup(): Unit = {
    expected = oracle()
    run.op("warmup") { _ =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
      try {
        val asks = (0 until WarmupRounds).flatMap(r => in.preds.indices.map(r -> _)).map { case (r, i) =>
          pool.submit[Boolean] { () =>
            val v2ok = r > 0 || { val (plan, read) = planAndRead(i); read.bytesRead == plan.plannedBytes }
            v2ok && correct(i, query(i).collect().head)
          }
        }
        asks.forall(_.get())
      } finally pool.shutdown()
    }
  }

  private def query(i: Int) =
    ParquetQuery(spark, staged).where(in.preds(i).v1).aggregate(aggSpecs: _*).df

  private def correct(i: Int, got: Row, plantCount: Boolean = false): Boolean = {
    val want = expected(i)
    val wantCount = want.getLong(4) + (if (plantCount) 1 else 0)
    (0 until 4).forall(j => same(got.get(j), want.get(j))) && got.getLong(4) == wantCount
  }

  private def v1(i: Int): Unit = run.op("v1") { o =>
    val df = run.span("operators.build") { query(i) }
    if (o.traced) run.span("driver.plan") { df.queryExecution.executedPlan }
    val got = run.span("spark.collect") { df.collect().head }
    run.tracer.stop(o)
    if (o.traced) {
      val (files, scanMs, metaMs) = Plans.scanMetrics(df.queryExecution.executedPlan)
      o.counts ++= Seq("scan.files" -> files, "scan.time_ms" -> scanMs,
        "scan.metadata_ms" -> metaMs, "scan.table_rows" -> in.rows.toDouble)
    }
    correct(i, got, run.plantNow())
  }

  private def columns(i: Int): Seq[String] = (Inputs.Aggs.map(_._2) ++ columnsOf(in.preds(i))).distinct

  private def planAndRead(i: Int): (BytePlanner.Plan, RangedReader.Report) = {
    val p = Some(in.preds(i).v1)
    val plan = run.span("planner.plan") { BytePlanner.plan(staged, columns(i), p) }
    val read = run.span("reader.read") { RangedReader.run(staged, columns(i), p) }
    (plan, read)
  }

  private def v2(i: Int): Unit = run.op("v2") { o =>
    val (plan, read) = planAndRead(i)
    run.tracer.stop(o)
    o.counts ++= Seq("planner.groups" -> plan.rowGroups.toDouble,
      "planner.groups_kept" -> plan.survivingGroups.toDouble,
      "planner.planned_mb" -> plan.plannedBytes / 1e6,
      "reader.ranges" -> read.ranges.toDouble, "reader.read_mb" -> read.bytesRead / 1e6)
    // the first pass over the predicates fixes the ratio for the seed
    if (run.measuring && round < in.preds.size) {
      planned += plan.plannedBytes
      physical += plan.totalBytes
    }
    read.bytesRead == plan.plannedBytes
  }

  private var round = 0

  /** Step r asks predicate r (cyclically), as v1 then v2. */
  def step(r: Int): Unit = {
    round = r
    v1(r % in.preds.size)
    v2(r % in.preds.size)
  }

  def minSteps: Int = in.preds.size
  def cycle: Int = in.preds.size
  val headline = "v1"
  def second: Seq[Double] = run.ms("v2")

  def summary: Seq[(String, Double, String)] = {
    val a = run.ms("v1")
    val b = run.ms("v2")
    Seq(("v1_query_p50_ms", Stats.median(a), "ms"), ("v2_read_p50_ms", Stats.median(b), "ms"),
      ("read_selectivity", planned.toDouble / physical, "ratio")) ++
      Main.p90("v1_query_p90_ms", a) ++ Main.p90("v2_read_p90_ms", b)
  }
}

/** Writers of the generated inputs. */
object Data {
  /** lineitem with the fixture's schema; every column a hash of (row,
    * data seed, column), so one seed always yields the same table.
    */
  def lineitem(spark: org.apache.spark.sql.SparkSession, in: Inputs.Scan, path: String): Unit = {
    def h(k: Int, m: Long) = pmod(xxhash64(col("id"), lit(in.dataSeed), lit(k)), lit(m))
    spark.range(0, in.rows, 1, 4).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (h(1, 20000L) + 1).as("l_partkey"),
      (h(2, 1000L) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (h(3, 50L) + 1).cast("double").as("l_quantity"),
      ((h(4, Inputs.MaxCents - Inputs.MinCents) + Inputs.MinCents).cast("double") / 100.0)
        .as("l_extendedprice"),
      (h(5, 11L).cast("double") / 100.0).as("l_discount"),
      (h(6, 9L).cast("double") / 100.0).as("l_tax"),
      element_at(array(Inputs.Flags.map(lit): _*), (h(7, 3L) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (h(8, 2L) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds((h(9, Inputs.DayCount) + Inputs.FirstDay) * 86400L).as("l_shipdate"))
      .write.mode("overwrite").parquet(path)
  }

  def docs(spark: org.apache.spark.sql.SparkSession, docs: Seq[Inputs.Doc], path: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.part)).toDF("doc_id", "text", "part")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}
