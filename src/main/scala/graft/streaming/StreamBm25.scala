package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Continuous BM25 serving against the persisted term-posting index —
  * the lexical dual of [[StreamAnn]]: a file-source stream of query
  * terms, each micro-batch probed via [[graft.operators.Bm25.topK]]
  * into an idempotent per-batch ledger. The index may be APPENDED to
  * while the stream is up ([[graft.sources.Layouts.bm25Append]]): every
  * maintenance batch lands as one-file slices that appear atomically at
  * their commit rename and the corpus statistics are merged on read
  * from the delta slices, so there is no sidecar swap for a probe to
  * race (ADVICE r17 — the r17 pair-swap design had a window where a
  * probe's recovery could roll a fresh swap back) — micro-batch N
  * serves the slices committed before its trigger, the reader-side
  * no-quiesce story x168 pins for the vector family, here for the
  * lexical one (x187). Retraction and compaction DELETE or replace
  * slices of immutable manifest generations (the previous generation
  * stays as grace), so this stream stays up through them.
  */
object StreamBm25 {

  /** Query feed file shape: one row per requested term. */
  val querySchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("term", StringType)))

  /** One micro-batch of term queries → ledger rows
    * (term, rank, doc_id, tf, dl, score, batch_id), idempotent under
    * replay (dynamic overwrite of the batch's partition). The batch's
    * DISTINCT terms are collected to the driver: a query batch is the
    * bounded serving request, never the corpus, and the literal term
    * list is exactly what gives the postings scan its `In(term, ...)`
    * row-group pruning ([[graft.operators.Bm25.termIn]]) — the same
    * reason [[StreamAnn.probeBatch]] dedups its query vectors before
    * probing.
    */
  def probeBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      ledgerPath: String,
      k: Int): Unit = {
    val terms = batch.dropDuplicates("term").select("term")
      .collect().map(_.getString(0)).toSeq.sorted
    if (terms.nonEmpty)
      graft.operators.Bm25.topK(batch.sparkSession, indexPath, terms, k)
        // a String literal is a reference object in generated code, a Long
        // one is inlined into it: the directory (`batch_id=N`) is the same,
        // but only the String form compiles once, not once per micro-batch
        .withColumn("batch_id", lit(batchId.toString))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .mode("overwrite")
        .parquet(ledgerPath)
  }

  /** File-source stream of term queries → per-trigger top-k ledger. */
  def serve(
      spark: SparkSession,
      dir: String,
      indexPath: String,
      ledgerPath: String,
      checkpoint: String,
      k: Int = 10) =
    spark.readStream
      .schema(querySchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        probeBatch(batch, batchId, indexPath, ledgerPath, k)
      }
      .start()
}
