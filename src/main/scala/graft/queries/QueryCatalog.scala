package graft.queries

import graft.GraftSession
import graft.functions.Aggregations.{exactAvg, exactSum}
import graft.operators.ParquetQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One catalog entry = a named DataFrame program + (when SQL-expressible) the
  * equivalent DuckDB SQL the driver runs as a correctness oracle at sf0.01.
  *
  * Determinism contract with the oracle (driver hash-compares values):
  *  - aggregate/computed columns are aliased identically on both sides;
  *  - any SUM/AVG over a non-integral double goes through DECIMAL(38,4)
  *    accumulation (exact + associative) and a final cast to DOUBLE, so
  *    partial-aggregation order can never flip a low bit vs DuckDB
  *    ([[graft.functions.Aggregations.exactSum]]);
  *  - `l_quantity` is integral-valued, so plain double sums over it are exact;
  *  - every row-returning query ends in a total ORDER BY.
  */
final case class CatalogEntry(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    describe: String)

object QueryCatalog {

  /** Full inventory the driver verifies; extensions appended as they land. */
  def all: Seq[CatalogEntry] = referenceParity ++ ExtensionCatalog.all

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  private def li(dir: String) = s"$dir/lineitem.parquet"

  /** §2 reference-parity queries (SURVEY.md operator IDs in each description). */
  val referenceParity: Seq[CatalogEntry] = Seq(
    CatalogEntry(
      "q01_filter_agg",
      (s, dir) =>
        ParquetQuery(s, li(dir))
          .where("l_extendedprice > 30000")
          .aggregate("SUM(l_quantity)", "AVG(l_quantity)", "MIN(l_quantity)",
            "MAX(l_quantity)", "COUNT(l_quantity)")
          .df,
      Some("""SELECT SUM(l_quantity) AS sum_l_quantity, AVG(l_quantity) AS avg_l_quantity,
             |MIN(l_quantity) AS min_l_quantity, MAX(l_quantity) AS max_l_quantity,
             |COUNT(l_quantity) AS count_l_quantity
             |FROM lineitem WHERE l_extendedprice > 30000""".stripMargin),
      "v1 benchmark template: filter + single-pass SUM/AVG/MIN/MAX/COUNT (F1,F3,A1-A7)"),

    CatalogEntry(
      "q02_pred_connectives",
      (s, dir) =>
        ParquetQuery(s, li(dir))
          .where("(l_quantity > 45.0 OR l_quantity < 5.0) AND NOT l_returnflag == R")
          .aggregate("COUNT(l_orderkey)", "MIN(l_extendedprice)", "MAX(l_extendedprice)")
          .df,
      Some("""SELECT COUNT(l_orderkey) AS count_l_orderkey,
             |MIN(l_extendedprice) AS min_l_extendedprice,
             |MAX(l_extendedprice) AS max_l_extendedprice
             |FROM lineitem
             |WHERE (l_quantity > 45.0 OR l_quantity < 5.0) AND NOT (l_returnflag = 'R')""".stripMargin),
      "AND/OR/NOT/parens + float and bare-string literals (F2, F4 grammar)"),

    CatalogEntry(
      "q03_datetime_filter",
      (s, dir) =>
        ParquetQuery(s, li(dir))
          .where("l_shipdate >= 1996-01-01-00:00:00 AND l_shipdate < 1997-01-01-00:00:00")
          .aggregate("COUNT(l_orderkey)", "SUM(l_quantity)", "MIN(l_quantity)", "MAX(l_quantity)")
          .df,
      Some("""SELECT COUNT(l_orderkey) AS count_l_orderkey, SUM(l_quantity) AS sum_l_quantity,
             |MIN(l_quantity) AS min_l_quantity, MAX(l_quantity) AS max_l_quantity
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'""".stripMargin),
      "ISO %Y-%m-%d-%H:%M:%S datetime literal → timestamp comparison (X6, F1 date kernel)"),

    CatalogEntry(
      "q04_string_float_filter",
      (s, dir) =>
        ParquetQuery(s, li(dir))
          .where("l_returnflag == A AND l_discount >= 0.05")
          .aggregate("COUNT(l_orderkey)", "SUM(l_quantity)")
          .df,
      Some("""SELECT COUNT(l_orderkey) AS count_l_orderkey, SUM(l_quantity) AS sum_l_quantity
             |FROM lineitem WHERE l_returnflag = 'A' AND l_discount >= 0.05""".stripMargin),
      "utf8 equality + float comparison kernels (F1 string/float)"),

    CatalogEntry(
      "q05_index_predicate",
      (s, dir) =>
        ParquetQuery(s, li(dir))
          .whereByIndex("4 > 30")
          .aggregate("COUNT(l_quantity)", "SUM(l_quantity)")
          .df,
      Some("""SELECT COUNT(l_quantity) AS count_l_quantity, SUM(l_quantity) AS sum_l_quantity
             |FROM lineitem WHERE l_quantity > 30""".stripMargin),
      "v2 ordinal column addressing: schema field 4 = l_quantity (v2/src/main.rs:737)"),

    CatalogEntry(
      "q06_projection",
      (s, dir) =>
        ParquetQuery(s, li(dir))
          .selectFirst(4)
          .where("l_quantity == 50.0")
          .df
          .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber
             |FROM lineitem WHERE l_quantity = 50.0
             |ORDER BY 1, 2, 3, 4""".stripMargin),
      "early/late projection, first-N-columns select (P1-P3); filter column not in output"),

    CatalogEntry(
      "q07_groupby_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum($("l_quantity")).as("sum_qty"),
            exactSum($("l_extendedprice")).as("sum_price"),
            exactAvg($("l_extendedprice")).as("avg_price"),
            min($("l_discount")).as("min_disc"),
            max($("l_discount")).as("max_disc"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |SUM(l_quantity) AS sum_qty,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
             |MIN(l_discount) AS min_disc, MAX(l_discount) AS max_disc,
             |COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      "keyed aggregation, exact-decimal money sums (A8, A1-A4, A9)"),

    CatalogEntry(
      "q08_count_star",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, COUNT(*) AS n FROM orders
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      "COUNT(*) incl. nulls (A9)"),

    CatalogEntry(
      "q09_agg_expr",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_suppkey")
          .agg(max(($("l_extendedprice") / nullif($("l_linenumber").cast("double"), lit(0.0)))
            * $("l_quantity")).as("est_size"))
          .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey,
             |MAX((l_extendedprice / NULLIF(CAST(l_linenumber AS DOUBLE), 0.0)) * l_quantity) AS est_size
             |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
      "aggregate of computed expression + NULLIF guard (A10, X1, X5)"),

    CatalogEntry(
      "q10_weighted_avg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .agg(
            (exactSum($("l_extendedprice") * $("l_discount")) / exactSum($("l_discount")))
              .as("weighted_avg_price"),
            exactSum($("l_discount")).as("sum_disc")),
      Some("""SELECT
             |CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,4))) AS DOUBLE)
             | / CAST(SUM(CAST(l_discount AS DECIMAL(38,4))) AS DOUBLE) AS weighted_avg_price,
             |CAST(SUM(CAST(l_discount AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc
             |FROM lineitem""".stripMargin),
      "SUM(a*b)/SUM(b) weighted average over aggregated values (A11)"),

    CatalogEntry(
      "q11_join_dim_agg",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val dim = orders.groupBy("o_custkey").agg(max($("o_totalprice")).as("max_price"))
        // no broadcast() hint: the dim is a data-derived per-customer
        // aggregate whose size scales with the fact table — AQE picks
        // broadcast when it fits (PlanAuditSpec asserts it does at fixture
        // scale) and falls back to a shuffle join when it wouldn't
        orders
          .join(dim, Seq("o_custkey"))
          .where($("o_totalprice") === $("max_price"))
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
             |FROM orders o
             |JOIN (SELECT o_custkey, MAX(o_totalprice) AS max_price
             |      FROM orders GROUP BY o_custkey) ws
             |  ON o.o_custkey = ws.o_custkey
             |WHERE o.o_totalprice = ws.max_price
             |ORDER BY o.o_custkey, o.o_orderkey""".stripMargin),
      "inner equi-join fact ⋈ aggregated dim, dim broadcast (J1)"),

    CatalogEntry(
      "q12_cross_join_pct",
      (s, dir) => {
        val counts = t(s, dir, "orders")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        val total = counts.agg(sum($("n")).as("total"))
        counts
          .crossJoin(broadcast(total))
          .select($("o_orderpriority"), $("n"),
            ($("n") * lit(100.0) / $("total")).as("pct"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH counts AS (
             |  SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority),
             |total AS (SELECT SUM(n) AS total FROM counts)
             |SELECT c.o_orderpriority, c.n, (c.n * 100.0) / t.total AS pct
             |FROM counts c, total t ORDER BY c.o_orderpriority""".stripMargin),
      "implicit cross join against 1-row total + percentage (J2)"),

    CatalogEntry(
      "q13_selectivity_distribution",
      (s, dir) => selectivityDistribution(t(s, dir, "lineitem")),
      Some(
        """WITH warehouse_size_estimates AS (
          |  SELECT l_suppkey,
          |         MAX((l_extendedprice / NULLIF(CAST(l_linenumber AS DOUBLE), 0.0)) * l_quantity)
          |           AS estimated_warehouse_size
          |  FROM lineitem GROUP BY l_suppkey),
          |query_selectivity AS (
          |  SELECT q.l_suppkey, q.l_extendedprice, ws.estimated_warehouse_size,
          |         CASE WHEN ws.estimated_warehouse_size > 0
          |              THEN q.l_extendedprice / ws.estimated_warehouse_size
          |              ELSE NULL END AS selectivity_ratio
          |  FROM lineitem q
          |  JOIN warehouse_size_estimates ws ON q.l_suppkey = ws.l_suppkey),
          |bucketed AS (
          |  SELECT CAST(LEAST(CEIL(selectivity_ratio * 100), 100) AS BIGINT) AS selectivity_bucket
          |  FROM query_selectivity),
          |query_counts AS (
          |  SELECT selectivity_bucket, COUNT(*) AS query_count
          |  FROM bucketed GROUP BY selectivity_bucket),
          |total_queries AS (SELECT SUM(query_count) AS total FROM query_counts)
          |SELECT qc.selectivity_bucket, qc.query_count,
          |       (qc.query_count * 100.0) / tq.total AS query_percentage
          |FROM query_counts qc, total_queries tq
          |ORDER BY qc.selectivity_bucket""".stripMargin),
      "Snowset selectivity-distribution analysis re-based onto lineitem " +
        "(datasets/snowset/query_selectivity_distribution.sql; CASE/LEAST/CEIL, J1, J2, A8-A11)"),

    CatalogEntry(
      "q14_retrieval_rate",
      (s, dir) => retrievalRate(t(s, dir, "lineitem")),
      Some(
        """WITH warehouse_sizes AS (
          |  SELECT l_suppkey,
          |         MAX((l_extendedprice / NULLIF(CAST(l_linenumber AS DOUBLE), 0.0)) * l_quantity)
          |           AS estimated_warehouse_size
          |  FROM lineitem GROUP BY l_suppkey),
          |gb_read_per_size AS (
          |  SELECT ws.l_suppkey, ws.estimated_warehouse_size,
          |         CAST(SUM(CAST(s.l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
          |           / NULLIF(ws.estimated_warehouse_size, 0.0) AS scanbytes_per_estimated_size
          |  FROM lineitem s
          |  JOIN warehouse_sizes ws ON s.l_suppkey = ws.l_suppkey
          |  GROUP BY ws.l_suppkey, ws.estimated_warehouse_size)
          |SELECT
          |  CAST(SUM(CAST(scanbytes_per_estimated_size * estimated_warehouse_size AS DECIMAL(38,4))) AS DOUBLE)
          |    / CAST(SUM(CAST(estimated_warehouse_size AS DECIMAL(38,4))) AS DOUBLE)
          |    / 14 * 365 / 12 AS weighted_avg_read_per_size,
          |  CAST(SUM(CAST(estimated_warehouse_size AS DECIMAL(38,4))) AS DOUBLE) AS sum_estimated_size
          |FROM gb_read_per_size""".stripMargin),
      "Snowset retrieval-rate analysis re-based (datasets/snowset/retrieval_rate.sql; " +
        "its committed SQL is missing a comma — intent of two output columns preserved)"),

    CatalogEntry(
      "q15_orderby",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum($("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      "ORDER BY on grouped output — the only sort in the reference (§2.6, S9 feed)"),

    CatalogEntry(
      "q16_empty_input_agg",
      (s, dir) =>
        ParquetQuery(s, li(dir))
          .where("l_quantity < 0.0")
          .aggregate("SUM(l_quantity)", "AVG(l_quantity)", "MIN(l_quantity)",
            "MAX(l_quantity)", "COUNT(l_quantity)")
          .df,
      Some("""SELECT SUM(l_quantity) AS sum_l_quantity, AVG(l_quantity) AS avg_l_quantity,
             |MIN(l_quantity) AS min_l_quantity, MAX(l_quantity) AS max_l_quantity,
             |COUNT(l_quantity) AS count_l_quantity
             |FROM lineitem WHERE l_quantity < 0.0""".stripMargin),
      "empty-selection semantics: NULL aggregates, COUNT=0; predicate prunes every row group"),

    CatalogEntry(
      "q17_three_way_join",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        // no broadcast() hint on customer: it is a base table that grows
        // linearly with scale factor, so a hard hint would force an
        // executor-OOM broadcast at 100x. AQE broadcasts it while it fits
        // (PlanAuditSpec asserts that at fixture scale) and falls back to a
        // shuffle join when it no longer does.
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n"),
            exactSum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("revenue"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      "multi-join star query: fact-fact shuffle join + broadcast dim (J1 scaled up)")
  )

  private def $(c: String) = col(c)

  /** Snowset analysis #1 (query_selectivity_distribution.sql) as a DataFrame
    * chain, re-based: fact=lineitem, warehouseId→l_suppkey, scanBytes→
    * l_extendedprice, scanFiles→l_linenumber, scanOriginalFiles→l_quantity.
    * The dim side of the join is a grouped aggregate (one row per supplier);
    * its cardinality is data-derived, so no broadcast() hint — AQE
    * broadcasts it when its runtime size fits and shuffle-joins otherwise.
    */
  def selectivityDistribution(lineitem: DataFrame): DataFrame = {
    val ws = lineitem
      .groupBy("l_suppkey")
      .agg(max(($("l_extendedprice") / nullif($("l_linenumber").cast("double"), lit(0.0)))
        * $("l_quantity")).as("estimated_warehouse_size"))
    val ratio = lineitem
      .join(ws, Seq("l_suppkey"))
      .select(
        when($("estimated_warehouse_size") > 0,
          $("l_extendedprice") / $("estimated_warehouse_size"))
          .otherwise(lit(null)).as("selectivity_ratio"))
    val bucketed = ratio.select(
      least(ceil($("selectivity_ratio") * 100), lit(100L)).cast("long").as("selectivity_bucket"))
    val counts = bucketed.groupBy("selectivity_bucket").agg(count(lit(1)).as("query_count"))
    val total = counts.agg(sum($("query_count")).as("total"))
    counts
      .crossJoin(broadcast(total))
      .select($("selectivity_bucket"), $("query_count"),
        ($("query_count") * lit(100.0) / $("total")).as("query_percentage"))
      .orderBy("selectivity_bucket")
  }

  /** Snowset analysis #2 (retrieval_rate.sql), same re-basing. */
  def retrievalRate(lineitem: DataFrame): DataFrame = {
    val ws = lineitem
      .groupBy("l_suppkey")
      .agg(max(($("l_extendedprice") / nullif($("l_linenumber").cast("double"), lit(0.0)))
        * $("l_quantity")).as("estimated_warehouse_size"))
    val perWh = lineitem
      .join(ws, Seq("l_suppkey")) // un-hinted: AQE decides (see above)
      .groupBy("l_suppkey", "estimated_warehouse_size")
      .agg((exactSum($("l_extendedprice")) / nullif($("estimated_warehouse_size"), lit(0.0)))
        .as("scanbytes_per_estimated_size"))
    perWh.agg(
      (exactSum($("scanbytes_per_estimated_size") * $("estimated_warehouse_size"))
        / exactSum($("estimated_warehouse_size")) / 14 * 365 / 12)
        .as("weighted_avg_read_per_size"),
      exactSum($("estimated_warehouse_size")).as("sum_estimated_size"))
  }
}
