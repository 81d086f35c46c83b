package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions
import org.apache.spark.unsafe.types.UTF8String

/** BM25 serving over the persisted term-posting index
  * ([[graft.sources.Layouts.bm25Index]]): the probe reads only the query
  * terms' posting ranges (the pushed `In(term, ...)` filter of
  * [[termIn]] gives the term-sorted postings their row-group pruning),
  * MERGES the corpus statistics on read from the batch-sliced `deltas` table
  * (df = SUM over the query terms' delta rows, (n, total) = the sum of
  * the per-batch global rows — O(query terms + slices), never an
  * index-sized aggregate and never a sidecar swap to race), and scores
  * with the ONE x52 rational-Robertson tree — per-(term, doc) scores, no
  * cross-term float sum, ties broken by doc_id. Serving cost is
  * O(matching postings), never a corpus scan; the doc length comes
  * denormalized out of the posting row so no per-doc table is joined.
  * Each table resolves its own manifest generation; generations of a
  * table are content-equivalent through their folds, so cross-table
  * version skew cannot produce a state no single index version had.
  */
object Bm25 {

  /** The ONE x52 rational-Robertson BM25 scoring tree (k1 = 1.2,
    * b = 0.75: idf = (n − df + 0.5)/(df + 0.5), tf leg =
    * tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl))) — shared by [[topK]],
    * [[topKChampions]] and the x189/x191 catalog rows; two copies
    * drifting apart would quietly break the recall audit's premise
    * (VERDICT r17 #8). Same IEEE op order as the DuckDB oracles, so
    * doubles match bit for bit.
    */
  def score(tf: Column, dl: Column, df: Column, n: Column, total: Column): Column = {
    val avgdl = total.cast("double") / n
    (((n - df) + lit(0.5)) / (df + lit(0.5))) *
      ((tf * lit(2.2)) / (tf + lit(1.2) * (lit(0.25) + lit(0.75) *
        (dl.cast("double") / avgdl))))
  }

  /** `term IN (terms)` as data, not code: one `InSet` over an
    * `immutable.HashSet`, whose generated class is the same for every term
    * list, so a probe reuses the compiled scan and filter whatever its
    * terms and their count. `isin` instead compiles per term count (an
    * `EqualTo` for one term, an unrolled `In` below the InSet threshold),
    * and a Scala `Set1`–`Set4` would bake its own class into the cast.
    * It still pushes down as `In(term, …)`, which is what prunes the
    * term-sorted row groups.
    */
  def termIn(terms: Seq[String]): Column =
    GraftFunctions.column(InSet(GraftFunctions.expression(col("term")),
      scala.collection.immutable.HashSet.empty[Any] ++ terms.map(UTF8String.fromString)))

  /** (per-term df, 1-row (n, total)) for the query terms, merged on
    * read from the delta slices — one parquet listing, one immutable
    * generation root when managed.
    */
  private def mergedStats(
      spark: SparkSession, indexPath: String, terms: Seq[String]): (DataFrame, DataFrame) = {
    implicit val s: SparkSession = spark
    val deltas = spark.read
      .parquet(graft.sources.Layouts.indexRoot(s"$indexPath/deltas"))
    val dfreq = deltas.where(termIn(terms))
      .groupBy("term").agg(sum("df").as("df"))
    val stats = deltas.where(col("term").isNull)
      .agg(sum("n").as("n"), sum("total").as("total"))
    (dfreq, stats)
  }

  /** Score the given posting rows (term, doc_id, tf, dl) against the
    * index's merged corpus statistics: broadcast df (bounded by the
    * query's term count), 1-row stats cross.
    */
  private def scoreRows(
      spark: SparkSession, indexPath: String,
      post: DataFrame, terms: Seq[String]): DataFrame = {
    val (dfreq, stats) = mergedStats(spark, indexPath, terms)
    post.join(broadcast(dfreq), "term").crossJoin(stats)
      .withColumn("score",
        score(col("tf"), col("dl"), col("df"), col("n"), col("total")))
      .select("term", "doc_id", "tf", "dl", "score")
  }

  /** Per-(term, doc) BM25 scores for the query terms, unranked — the
    * rows both rankers cut top-k from, and the building block
    * multi-term weighted retrieval composes (x191's RM3 second pass).
    */
  def scored(spark: SparkSession, indexPath: String, terms: Seq[String]): DataFrame = {
    implicit val s: SparkSession = spark
    val post = spark.read
      .parquet(graft.sources.Layouts.indexRoot(s"$indexPath/postings"))
      .where(termIn(terms))
      .select("term", "doc_id", "tf", "dl")
    scoreRows(spark, indexPath, post, terms)
  }

  private def cut(scoredRows: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(desc("score"), asc("doc_id"))
    scoredRows
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("term", "rank", "doc_id", "tf", "dl", "score")
      .orderBy("term", "rank")
  }

  def topK(
      spark: SparkSession,
      indexPath: String,
      terms: Seq[String],
      k: Int = 10): DataFrame =
    cut(scored(spark, indexPath, terms), k)

  /** Champion-list (impact-ordered) pruned serving: score only the
    * PERSISTED top-C-by-tf tier ([[graft.sources.Layouts.bm25Index]]'s
    * `champions` table, C from the index's `_params`), re-selected across
    * the merged slices — probe cost O(C · slices) per term, independent of
    * the term's document frequency, which is what makes stop-word-class
    * terms affordable. Scores still use the FULL corpus statistics, so
    * a championed posting's score equals its full-serving score exactly;
    * what pruning gives up is recall of low-tf/short docs — x189 audits
    * that overlap.
    */
  def topKChampions(
      spark: SparkSession,
      indexPath: String,
      terms: Seq[String],
      k: Int = 10): DataFrame = {
    implicit val s: SparkSession = spark
    val champRoot = graft.sources.Layouts.indexRoot(s"$indexPath/champions")
    val c = graft.sources.Layouts.bm25Champions(indexPath)
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(desc("tf"), asc("doc_id"))
    val tier = spark.read.parquet(champRoot)
      .where(termIn(terms))
      .select("term", "doc_id", "tf", "dl")
      .withColumn("__cr", row_number().over(cw))
      .where(col("__cr") <= c).drop("__cr")
    cut(scoreRows(spark, indexPath, tier, terms), k)
  }
}
