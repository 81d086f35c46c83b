package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Session factory + fixture-table loaders.
  *
  * The reference engine (see /root/reference/v1/src/main.rs:118-133) runs 16 fixed
  * tasks over a directory of parquet files; on Spark the equivalent knobs are the
  * shuffle-partition count and the file-split sizing, set here once so every entry
  * point (tests, Verify, Bench, the dev tools, perfbench) builds the same kind of
  * session — and [[build]] is the only place graft builds one.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` of every graft session. */
  val CodegenCacheEntries = 1000

  /** Tuned local session carrying [[GraftExtensions]] (graft's functions,
    * optimizer rule and planner strategy). `cores` drives both parallelism and
    * shuffle width — on a real cluster shuffle.partitions would instead track
    * total executor cores (AQE coalesces the excess at runtime). It defaults to
    * `SPARK_GRAFT_CPUS`, else 4.
    *
    * `extraConf` is applied LAST so callers can override any default above
    * (e.g. force-spill thresholds in tests). Note `getOrCreate` reuses a live
    * session and ignores all configs and extensions — conf-sensitive callers
    * (spill tests) must run with no pre-existing session, asserted here to
    * fail loudly rather than silently drop their confs, and a reused session
    * without the graft functions is refused the same way.
    */
  def build(appName: String = "graft",
            cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
            extraConf: Map[String, String] = Map.empty): SparkSession = {
    if (extraConf.nonEmpty)
      require(SparkSession.getActiveSession.isEmpty && SparkSession.getDefaultSession.isEmpty,
        s"extraConf ${extraConf.keys.mkString(",")} would be ignored: a SparkSession already exists")
    val builder = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Old-style events fixtures carry TIMESTAMP(NANOS), which Spark has no
      // native type for; read those as epoch-nano BIGINT. Current fixtures are
      // TIMESTAMP(MICROS) — [[normalizeEventTs]] projects them to the same
      // epoch-nano BIGINT so every downstream `ts div …` sees one contract.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Generated classes are cached JVM-wide by their source text. Spark's
      // default of 100 entries is smaller than one BM25 append → probe →
      // probe → serve cycle (~120 distinct classes), so the LRU evicted
      // each class before its reuse and an append recompiled 52–60.
      // The working set follows plan shapes, not data size. A static conf:
      // read once, when the cache is created, so it belongs here and not in
      // a runtime `spark.conf.set`.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // ...and that source text must not carry a plan position: with the
      // stage id in the class name, one pipeline numbered 3 in one run and
      // 5 in the next (AQE numbers stages as they complete) is two classes
      .config("spark.sql.codegen.useIdInClassName", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    if (!spark.catalog.functionExists("graft_poly_hash"))
      throw new IllegalStateException("getOrCreate returned a SparkSession built " +
        "without graft.GraftExtensions; stop it first, or build it with " +
        "spark.sql.extensions=graft.GraftExtensions")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Loader-level `ts` contract: every table surface exposes `ts` as epoch-nano
    * BIGINT regardless of the fixture's physical parquet unit. TIMESTAMP(NANOS)
    * fixtures already arrive as nano longs (`nanosAsLong`); TIMESTAMP(MICROS)
    * fixtures (the driver's current events.parquet) read as TIMESTAMP_NTZ and
    * are projected here — `unix_micros` under the UTC session timezone, ×1000.
    * One projection at the loader instead of 15+ per-query casts, so a future
    * physical-unit change is again a one-line fix (plus FixtureSchemaSpec's
    * canary diff).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      case _ => df // already BIGINT nanos (or no ts column)
    }

  /** Fixture tables live at `{dir}/{name}.parquet` (TESTDATA.md). The one
    * loader every catalog query and view reads through. The schema comes
    * from [[graft.operators.ParquetQuery.schemaOf]], which re-infers only
    * when a file's version or an inference conf changed, so a rewritten
    * table is read with its new schema and files while an unchanged one
    * runs no inference job. No DataFrame or plan is kept across calls.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    normalizeEventTs(spark.read
      .schema(graft.operators.ParquetQuery.schemaOf(spark, path)).parquet(path))
  }

  /** All fixture table names (TESTDATA.md). */
  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The SQL surface: register every fixture table as a temp view, so on a
    * [[build]] session `spark.sql("SELECT graft_poly_hash(text) FROM
    * documents ...")` works directly — the way the reference's own analysis
    * corpus is written (the datasets/snowset SQL files).
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    tableNames.foreach { n =>
      val f = new java.io.File(s"$dir/$n.parquet")
      if (f.exists()) table(spark, dir, n).createOrReplaceTempView(n)
    }
  }
}
