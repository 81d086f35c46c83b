package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact-PHRASE retrieval over the persisted positional index
  * ([[graft.sources.Layouts.positionalIndex]]) — the operator behind
  * phrase-level eval-set decontamination and quote detection, which
  * bag-of-words retrieval (x52/x178) cannot express.
  *
  * The probe is slot algebra, never a string rescan: each phrase slot i
  * matching term t at position p votes for a candidate occurrence
  * STARTING at p − i; a start that collects all |phrase| distinct slots
  * in one doc is an exact occurrence. Cost model at 100 TB: the index
  * scan prunes to the phrase's terms' row groups (`In(term, ...)`), the
  * slot table is a broadcast of |phrase| rows, and the only shuffle is
  * keyed on (doc_id, start) over the MATCHING postings — O(matching
  * postings), never O(corpus). Overlapping occurrences ("a a a" contains
  * "a a" twice) and repeated-term phrases fall out of the same algebra:
  * one posting row may vote for several slots, each under its own start.
  */
object Phrase {

  /** (doc_id, n_occ): exact occurrence count of `phrase` per document
    * containing it at least once.
    *
    * Multi-term phrases intersect RAREST TERM FIRST before the
    * adjacency shuffle: every occurrence doc must contain every phrase
    * term, so semi-joining the other terms' postings against the rarest
    * term's doc set shrinks the (doc_id, start) shuffle from
    * Σ(term dfs) to ≤ |phrase| · min(term df) rows — the lever that
    * keeps a stop-word-heavy phrase priced at its RAREST term, not its
    * commonest (the positional analog of the BM25 champion tier). The
    * per-term df feeding the choice is an aggregate over the
    * already-pruned rows whose result is ≤ |phrase| rows (a bounded
    * collect) — never an index pass;
    * a phrase term absent from the corpus short-circuits to the empty
    * result before any shuffle runs.
    */
  def occurrences(
      spark: SparkSession,
      indexPath: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    implicit val s: SparkSession = spark
    import spark.implicits._
    val slots = broadcast(
      phrase.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("slot", "term"))
    val distinctTerms = phrase.distinct
    val post = spark.read
      .parquet(graft.sources.Layouts.indexRoot(indexPath))
      .where(col("term").isin(distinctTerms: _*))
      .select("term", "doc_id", "pos")
    val scoped =
      if (distinctTerms.length <= 1) post
      else {
        val dfs = post.groupBy("term")
          .agg(countDistinct("doc_id").as("df")).collect()
        if (dfs.length < distinctTerms.length) post.limit(0)
        else {
          val rarest = dfs
            .minBy(r => (r.getLong(1), r.getString(0))).getString(0)
          post.join(
            post.where(col("term") === rarest).select("doc_id").distinct(),
            Seq("doc_id"), "left_semi")
        }
      }
    scoped.join(slots, "term")
      .select(col("doc_id"), (col("pos") - col("slot")).as("start"),
        col("slot"))
      .groupBy("doc_id", "start")
      .agg(countDistinct("slot").as("k"))
      .where(col("k") === phrase.length)
      .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
  }

  /** Top-k documents by (occurrence count desc, doc_id) with an explicit
    * rank column. The global cut is orderBy+limit (TakeOrderedAndProject
    * — per-partition top-k, no full sort); the rank window then runs
    * over at most k rows.
    */
  def topK(
      spark: SparkSession,
      indexPath: String,
      phrase: Seq[String],
      k: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n_occ"), asc("doc_id"))
    occurrences(spark, indexPath, phrase)
      .orderBy(desc("n_occ"), asc("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select("rank", "doc_id", "n_occ")
      .orderBy("rank")
  }

  /** Contamination audit: for each phrase, (n_docs, n_occ) over the
    * corpus — ONE pruned index probe for all phrases at once (the slot
    * table carries a phrase id and its length; adjacency verifies per
    * (phrase, doc, start)). Phrases with zero occurrences produce no
    * row, matching a SQL replay's inner-grouped shape. The single-probe
    * design trades [[occurrences]]' per-phrase rarest-term intersection
    * for one shared index scan — right when the phrase list is long and
    * its terms rare (the decontamination case); a lone stop-word-heavy
    * phrase is better served through [[occurrences]].
    */
  def audit(
      spark: SparkSession,
      indexPath: String,
      phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      "audit needs at least one non-empty phrase")
    implicit val s: SparkSession = spark
    import spark.implicits._
    val slots = broadcast(phrases.flatMap { p =>
      p.zipWithIndex.map { case (t, i) =>
        (p.mkString(" "), i.toLong, t, p.length.toLong) }
    }.toDF("phrase", "slot", "term", "plen"))
    val terms = phrases.flatten.distinct
    val post = spark.read
      .parquet(graft.sources.Layouts.indexRoot(indexPath))
      .where(col("term").isin(terms: _*))
      .select("term", "doc_id", "pos")
    post.join(slots, "term")
      .select(col("phrase"), col("doc_id"),
        (col("pos") - col("slot")).as("start"), col("slot"), col("plen"))
      .groupBy("phrase", "doc_id", "start")
      .agg(countDistinct("slot").as("k"), max("plen").as("plen"))
      .where(col("k") === col("plen"))
      .groupBy("phrase")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
      .orderBy("phrase")
  }

  /** Proximity (span-near) retrieval: per document, the number of
    * ANCHOR-term occurrences that have every other query term within
    * ±`window` token positions — unordered co-occurrence, the semantics
    * between bag-of-words BM25 (no locality at all) and [[occurrences]]
    * (exact adjacency). The anchor is `terms.head` BY CONTRACT (the
    * count is anchor-relative, so the choice is semantics, not an
    * optimization); rarest-term doc-set intersection still runs first
    * as pure cost control — a qualifying anchor's doc necessarily
    * contains every term, so semi-joining on the rarest term's docs
    * never changes the result, only shrinks the band joins from
    * Σ(term dfs) toward |phrase| · min(term df). Each non-anchor term
    * then prunes anchors with ONE left-semi band join on
    * (doc_id, |pos − p| ≤ window) — k−1 joins over already-pruned
    * postings, never a corpus pass.
    */
  def near(
      spark: SparkSession,
      indexPath: String,
      terms: Seq[String],
      window: Int): DataFrame = {
    require(terms.nonEmpty, "near needs at least one term")
    require(terms.distinct.length == terms.length,
      "near terms must be distinct — a repeated term is satisfied by the " +
        "anchor occurrence itself; use occurrences for repeated-term shapes")
    require(window >= 1, s"window must be >= 1 (got $window)")
    implicit val s: SparkSession = spark
    val post = spark.read
      .parquet(graft.sources.Layouts.indexRoot(indexPath))
      .where(col("term").isin(terms: _*))
      .select("term", "doc_id", "pos")
    val scoped =
      if (terms.length <= 1) post
      else {
        val dfs = post.groupBy("term")
          .agg(countDistinct("doc_id").as("df")).collect()
        if (dfs.length < terms.length) post.limit(0)
        else {
          val rarest = dfs
            .minBy(r => (r.getLong(1), r.getString(0))).getString(0)
          post.join(
            post.where(col("term") === rarest).select("doc_id").distinct(),
            Seq("doc_id"), "left_semi")
        }
      }
    val anchors = scoped.where(col("term") === terms.head)
      .select(col("doc_id"), col("pos").as("p"))
    terms.tail
      .foldLeft(anchors) { (acc, t) =>
        acc.join(
          scoped.where(col("term") === t)
            .select(col("doc_id").as("__d"), col("pos").as("__q")),
          acc("doc_id") === col("__d") &&
            abs(col("__q") - acc("p")) <= window,
          "left_semi")
      }
      .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
  }

  /** Top-k documents by span-near co-occurrence count (desc, doc_id) —
    * [[topK]]'s ranking contract over [[near]].
    */
  def nearTopK(
      spark: SparkSession,
      indexPath: String,
      terms: Seq[String],
      window: Int,
      k: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n_near"), asc("doc_id"))
    near(spark, indexPath, terms, window)
      .orderBy(desc("n_near"), asc("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select("rank", "doc_id", "n_near")
      .orderBy("rank")
  }

  /** Gapped-phrase (wildcard-slot) occurrence counts: `slots` gives the
    * CONCRETE (position, term) pairs of a template of length `len` —
    * "merge _ join" is `Seq((0, "merge"), (2, "join")), len = 3` — and a
    * start collecting every concrete slot is a match; the wildcard
    * positions are satisfied by construction (token positions are
    * contiguous, and the first and last slots are required concrete, so
    * every interior position holds SOME token). The same slot algebra as
    * [[occurrences]], just sparse — one pruned probe, one (doc, start)
    * shuffle over matching postings. This is the template detector for
    * boilerplate with variable fields ("click _ to subscribe"), which
    * exact-phrase matching misses and bag-of-words floods.
    */
  def gapped(
      spark: SparkSession,
      indexPath: String,
      slots: Seq[(Int, String)],
      len: Int): DataFrame = {
    require(slots.nonEmpty, "gapped needs at least one concrete slot")
    require(slots.map(_._1).distinct.length == slots.length,
      "slot positions must be distinct")
    require(slots.forall(s => s._1 >= 0 && s._1 < len),
      s"slot positions must lie in [0, $len)")
    require(slots.exists(_._1 == 0) && slots.exists(_._1 == len - 1),
      "first and last template slots must be concrete terms — a leading " +
        "or trailing wildcard would need a doc-length check the position " +
        "algebra alone cannot provide")
    implicit val s: SparkSession = spark
    import spark.implicits._
    val slotDf = broadcast(
      slots.map { case (i, t) => (i.toLong, t) }.toDF("slot", "term"))
    val distinctTerms = slots.map(_._2).distinct
    val post = spark.read
      .parquet(graft.sources.Layouts.indexRoot(indexPath))
      .where(col("term").isin(distinctTerms: _*))
      .select("term", "doc_id", "pos")
    post.join(slotDf, "term")
      .select(col("doc_id"), (col("pos") - col("slot")).as("start"),
        col("slot"))
      .groupBy("doc_id", "start")
      .agg(countDistinct("slot").as("k"))
      .where(col("k") === slots.length)
      .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
  }

  /** Best-window snippet extraction: per document, the window start
    * that covers the most DISTINCT query terms within `width` token
    * positions (ties to the EARLIEST start) — the serving-side
    * highlighter that picks which passage of a matching doc to show.
    * Candidate starts are exactly the query terms' own occurrence
    * positions (a maximal-coverage window can always be slid left until
    * its left edge sits ON a query-term occurrence without losing any
    * term, so anchoring at occurrences loses no optimum). One pruned
    * probe, one (doc, start) band join over matching postings — the
    * [[near]] cost shape, O(matching postings), never a corpus pass.
    * Returns (doc_id, best_start, n_terms) for every doc containing at
    * least one query term.
    */
  def bestWindow(
      spark: SparkSession,
      indexPath: String,
      terms: Seq[String],
      width: Int): DataFrame = {
    require(terms.nonEmpty, "bestWindow needs at least one term")
    require(terms.distinct.length == terms.length,
      "bestWindow terms must be distinct")
    require(width >= 1, s"width must be >= 1 (got $width)")
    implicit val s: SparkSession = spark
    val post = spark.read
      .parquet(graft.sources.Layouts.indexRoot(indexPath))
      .where(col("term").isin(terms: _*))
      .select("term", "doc_id", "pos")
    val starts = post.select(col("doc_id").as("__d"), col("pos").as("s"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("n_terms"), asc("best_start"))
    starts
      .join(post,
        col("__d") === col("doc_id") &&
          col("pos") >= col("s") && col("pos") < col("s") + width)
      .groupBy(col("doc_id"), col("s").as("best_start"))
      .agg(countDistinct("term").as("n_terms"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") === 1).drop("__r")
  }

  /** [[audit]]'s algebra over a BOUNDED batch of raw documents instead
    * of the persisted index: (doc_id, phrase, n_occ) for every verbatim
    * eval-phrase quote in the batch — the admit-time decontamination
    * gate a streaming ingest runs per micro-batch
    * ([[graft.streaming.StreamDecontam]]), where tokenizing the batch
    * (posexplode of the whitespace split, the index family's exact
    * tokenization) is O(batch tokens) and the phrase table is a
    * broadcast. Docs quoting no phrase produce no row.
    */
  def contaminated(
      docs: DataFrame,
      phrases: Seq[Seq[String]],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      "contaminated needs at least one non-empty phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val slots = broadcast(phrases.flatMap { p =>
      p.zipWithIndex.map { case (t, i) =>
        (p.mkString(" "), i.toLong, t, p.length.toLong) }
    }.toDF("phrase", "slot", "term", "plen"))
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos0", "term")))
      .join(slots, "term")
      .select(col("phrase"), col("doc_id"),
        (col("pos0") - col("slot")).as("start"), col("slot"), col("plen"))
      .groupBy("phrase", "doc_id", "start")
      .agg(countDistinct("slot").as("k"), max("plen").as("plen"))
      .where(col("k") === col("plen"))
      .groupBy("doc_id", "phrase")
      .agg(count(lit(1)).as("n_occ"))
  }
}
