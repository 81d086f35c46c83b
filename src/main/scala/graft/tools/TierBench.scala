package graft.tools

import graft.GraftSession
import graft.metrics.{BytePlanner, IoMetrics, RangedReader}
import graft.operators.ParquetQuery
import org.apache.spark.sql.functions._

/** The reference's workload-tier sweep re-based onto the fixtures
  * (v1/src/main.rs:83-102: tier name ≈ fraction of data retained by
  * `memoryUsed > w`; best-case ⇒ every row group pruned, worst ⇒ full
  * scan). Thresholds are recomputed as quantiles of the bench column, per
  * BASELINE.md.
  *
  * The input is staged as a multi-row-group parquet sorted by the filter
  * column (small `parquet.block.size`), the layout a near-storage engine
  * banks on: row-group min/max ranges are disjoint, so the planner's byte
  * footprint tracks the retained fraction. Reported per tier:
  *  - rows retained + Spark task metrics (bytesRead is unreliable on
  *    local files — kept for reference; recordsRead shows decode skipping)
  *  - BytePlanner numbers (the v2 metadata-only observable): surviving
  *    row groups and planned bytes = surviving chunks of the projected
  *    column + footer.
  *  - the v2 op (plan + ranged read) in ms and the footers it parsed.
  *    A last line sets the first tier's op, which fills the footer cache,
  *    beside the p50 of the warm ones that follow.
  */
object TierBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.build("graft-tierbench", cores = 8)
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")

    val staged = java.nio.file.Files.createTempDirectory("tierbench").toString
    src.orderBy("l_extendedprice")
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (512 * 1024).toString)
      .parquet(staged)

    // Page-index rung (reference F9: dead-code Feature enum,
    // v1/src/main.rs:387-393): same sorted layout but COARSE row groups and
    // fine pages, so group-level pruning is blunt and the ColumnIndex does
    // the work — the delta between rg/page planned bytes below is the
    // pruning-granularity ablation.
    val stagedPi = java.nio.file.Files.createTempDirectory("tierbench-pi").toString
    src.orderBy("l_extendedprice")
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .option("parquet.page.size", (8 * 1024).toString)
      .option("parquet.page.row.count.limit", "1000")
      .parquet(stagedPi)

    val qs = src.stat.approxQuantile("l_extendedprice",
      Array(0.0, 0.25, 0.5, 0.75, 0.9), 0.001)
    val maxV = src.agg(max("l_extendedprice")).head.getDouble(0)
    val tiers = Seq(
      "worst" -> (qs(0) - 1.0), // retain all
      "q25" -> qs(1), "q50" -> qs(2), "q75" -> qs(3), "q90" -> qs(4),
      "best" -> (maxV + 1.0)) // retain none; all row groups pruned

    // one v2 op (plan + ranged read of `staged`) per tier: the first runs
    // on a cold footer cache, the rest warm; (ms, footers parsed) each
    val v2Ops = tiers.map { case (name, w) =>
      val pred = s"l_extendedprice > $w"
      val q = ParquetQuery(spark, staged)
        .where(pred)
        .aggregate("SUM(l_extendedprice)", "AVG(l_extendedprice)",
          "MIN(l_extendedprice)", "MAX(l_extendedprice)", "COUNT(l_extendedprice)")
      val (rows, rep) = IoMetrics.measure(spark, Seq(staged)) {
        q.df.collect().head.getLong(4)
      }
      val misses0 = BytePlanner.footerMisses
      val t0 = System.nanoTime()
      val plan = BytePlanner.plan(staged, Seq("l_extendedprice"), Some(pred))
      val measured = RangedReader.run(staged, Seq("l_extendedprice"), Some(pred))
      val v2Op = ((System.nanoTime() - t0) / 1e6, BytePlanner.footerMisses - misses0)
      val rgPi = BytePlanner.plan(stagedPi, Seq("l_extendedprice"), Some(pred))
      val pi = BytePlanner.planPages(stagedPi, Seq("l_extendedprice"), pred)
      // the executed plan: coalesced 512 KiB ranged reads (v2's second
      // half); measured == planned is the invariant RangedReaderSpec
      // proves, and the sweep asserts it on every row
      require(measured.bytesRead == plan.plannedBytes,
        s"ranged read ${measured.bytesRead} != planned ${plan.plannedBytes} at tier $name")
      println(
        s"""{"tier":"$name","threshold":$w,"rows":$rows,""" +
          s""""records_read":${rep.recordsRead},"elapsed_sec":${rep.elapsedSec},""" +
          s""""row_groups":${plan.rowGroups},"surviving_groups":${plan.survivingGroups},""" +
          s""""planned_bytes":${plan.plannedBytes},"total_bytes":${plan.totalBytes},""" +
          f""""planned_selectivity":${plan.selectivity}%.6f,""" +
          s""""measured_bytes":${measured.bytesRead},"read_ranges":${measured.ranges},""" +
          f""""ranged_read_gbps":${measured.gbps}%.3f,""" +
          s""""pi_rowgroup_planned_bytes":${rgPi.plannedBytes},""" +
          s""""pi_pages":${pi.pages},"pi_surviving_pages":${pi.survivingPages},""" +
          s""""pi_planned_bytes":${pi.plannedBytes},""" +
          f""""pi_planned_selectivity":${pi.selectivity}%.6f,""" +
          f""""v2_ms":${v2Op._1}%.2f,"v2_footer_misses":${v2Op._2}}""")
      v2Op
    }
    val warm = v2Ops.tail.map(_._1).sorted
    println(f"""{"v2_cold_ms":${v2Ops.head._1}%.2f,"v2_cold_footer_misses":${v2Ops.head._2},""" +
      f""""v2_warm_p50_ms":${warm(warm.size / 2)}%.2f,""" +
      s""""v2_warm_footer_misses":${v2Ops.tail.map(_._2).sum},"v2_warm_ops":${warm.size}}""")
    spark.stop()
  }
}
