package graft.operators

import graft.functions.{Aggregations, Predicates}
import graft.metrics.BytePlanner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The reference engine's query surface as a fluent builder over a parquet
  * table: SELECT <columns> WHERE <predicate mini-language> with an optional
  * single-pass multi-aggregate list (the full v1 pipeline,
  * /root/reference/v1/src/main.rs:202-322: parse → early projection →
  * row-group pruning → vectorized filter → aggregate → late projection).
  *
  * Everything the reference hand-implements is declared here and delegated to
  * Catalyst: early/late projection = ColumnPruning, row-group pruning =
  * parquet filter pushdown, the 15 typed comparison kernels = codegen'd
  * BinaryComparison, partial aggregation = two-phase HashAggregateExec. The
  * resulting physical plan is
  * `HashAggregate(final) ← Exchange ← HashAggregate(partial) ← Filter ←
  * FileScan parquet [PushedFilters: ...]` — one shuffle of one row per
  * partition, which is the shape that survives a 1000-executor scale-up.
  */
final case class ParquetQuery(
    spark: SparkSession,
    path: String,
    selectCols: Option[Seq[String]] = None,
    predicate: Option[String] = None,
    predicateByIndex: Boolean = false,
    aggregations: Seq[String] = Nil,
    referenceExact: Boolean = false) {

  /** SELECT an explicit column list (P1/P2). */
  def select(cols: String*): ParquetQuery = copy(selectCols = Some(cols))

  /** SELECT the first n schema columns — the reference's `-cc` flag (P3,
    * v1/src/main.rs:103-110,209-212).
    */
  def selectFirst(n: Int): ParquetQuery = {
    val names = ParquetQuery.schemaOf(spark, path).fieldNames.take(n).toSeq
    copy(selectCols = Some(names))
  }

  /** WHERE clause in the v1 name-based predicate language (F4). */
  def where(expr: String): ParquetQuery =
    copy(predicate = Some(expr), predicateByIndex = false)

  /** WHERE clause in the v2 ordinal predicate language (`"92 > 10"` addresses
    * schema field 92; v2/src/main.rs:737).
    */
  def whereByIndex(expr: String): ParquetQuery =
    copy(predicate = Some(expr), predicateByIndex = true)

  /** Aggregates in the `OP(column)` grammar, evaluated in one pass (A5). */
  def aggregate(specs: String*): ParquetQuery = copy(aggregations = specs)

  /** v1-exact empty-input semantics: SUM()=0 instead of NULL (A1 divergence). */
  def exactReferenceSemantics: ParquetQuery = copy(referenceExact = true)

  /** Build the DataFrame (lazy; no job runs until an action). The table's
    * schema is supplied, so resolving it runs no schema-inference job.
    */
  def df: DataFrame = {
    val base = spark.read.schema(ParquetQuery.schemaOf(spark, path)).parquet(path)
    val filtered = predicate match {
      case None => base
      case Some(p) =>
        val cond: Column =
          if (predicateByIndex) Predicates.columnByIndex(p, base.schema)
          else Predicates.column(p)
        base.filter(cond)
    }
    if (aggregations.nonEmpty) {
      val cols = Aggregations.compile(aggregations, referenceExact, Some(base.schema))
      filtered.agg(cols.head, cols.tail: _*)
    } else {
      selectCols.fold(filtered)(cs => filtered.select(cs.map(org.apache.spark.sql.functions.col): _*))
    }
  }
}

object ParquetQuery {

  /** Session confs the inferred parquet schema depends on, besides the files. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private val MaxSchemas = 64

  private val schemas = new java.util.LinkedHashMap[AnyRef, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[AnyRef, StructType]): Boolean =
      size > MaxSchemas
  }

  /** The schema `spark.read.parquet(path)` infers, memoized under the
    * version of every file below `path` and the session's inference
    * confs: a changed, added or removed file, or a flipped conf, infers
    * again, so the answer is always what inference would return now.
    * A path that is not a local file or directory is inferred every time.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return spark.read.parquet(path).schema
    val files = scala.util.Using.resource(
        java.nio.file.Files.walk(root, java.nio.file.FileVisitOption.FOLLOW_LINKS)) { walk =>
      walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.map(_.toString).sorted
    }
    val key = (files.toSeq.map(BytePlanner.version), InferenceConfs.map(spark.conf.getOption))
    schemas.synchronized(Option(schemas.get(key))).getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemas.synchronized(schemas.put(key, inferred))
      inferred
    }
  }
}
