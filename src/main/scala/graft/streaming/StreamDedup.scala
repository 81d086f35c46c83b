package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming exact dedup at ingest: as document files land, fingerprint
  * the normalized text (native `graft_poly_hash`) and `dropDuplicates` on
  * it — Spark keeps the seen-fingerprint set as streaming state, so a
  * re-delivered or duplicated document never reaches the sink. This is
  * [[graft.operators.Dedup.exact]] as a continuous pipeline stage.
  *
  * State is one i64 per distinct document — bounded and tiny relative to
  * the corpus. For time-bounded retention (dedup only within a window),
  * add `withWatermark` on an event-time column before the dropDuplicates;
  * corpus dedup wants the unbounded form.
  */
object StreamDedup {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def dedupByFingerprint(spark: SparkSession, dir: String, sinkName: String) = {
    spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withColumn("fp", expr("graft_poly_hash(lower(trim(text)))"))
      .dropDuplicates("fp")
      .writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("append")
      .start()
  }

  /** [[dedupByFingerprint]]'s ENGINE-STATE mechanics with a batch-
    * attributed parquet ledger, keyed on the id column so the output is
    * fully deterministic (an id is unique per batch, so `dropDuplicates`
    * never has to pick an arbitrary representative the way a content-
    * fingerprint key would when one batch carries two copies): each
    * micro-batch's FIRST-SEEN docs land under the engine's batch id via
    * idempotent dynamic overwrite. The state here is the ENGINE's
    * seen-key store (one entry per distinct id, checkpointed), which is
    * the contrast with x158's admit loop where the persisted INDEX is the
    * cross-batch state: engine state is simpler but grows with distinct
    * keys and lives inside the checkpoint; the index-backed loop is the
    * 100 TB path (queryable, compactable, retractable, shared across
    * queries). Time-bounded retention would swap in
    * `dropDuplicatesWithinWatermark`.
    */
  def engineDedup(
      spark: SparkSession,
      inDir: String,
      ledgerPath: String,
      checkpoint: String) =
    spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
      .dropDuplicates("doc_id")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        batch.select(col("doc_id"), col("source"))
          .withColumn("batch_id", lit(bid))
          .write
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .mode("overwrite")
          .parquet(ledgerPath)
      }
      .start()

  /** Continuous-ingest EXACT-dedup audit against a PERSISTED corpus index
    * ([[graft.sources.Layouts.jaccardIndex]]) — the streaming form of
    * x139's batch probe, completing the continual-ingestion story: corpus
    * index built once per release, then every micro-batch of landing
    * document files is probed with
    * [[graft.operators.Dedup.exactJaccardPairsStaged]] (the path form, so
    * the build-threshold no-miss guard applies to the stream too) and a
    * per-doc ledger row (doc_id, n_dups, best_jac_ppm) appends to the
    * sink. Because each incoming doc is classified against the CORPUS only
    * (no intra-shard pairing), the ledger is independent of how the feed
    * is micro-batched — batch ≡ stream exactly, which StreamDedupSpec
    * asserts. State per trigger is the batch itself; nothing accumulates
    * in the stream (the seen-set lives in the persisted index), so this
    * runs forever at O(batch) memory — the ingest shape a 100 TB corpus
    * with a no-miss contract (eval decontamination, licensing holds)
    * actually deploys.
    */
  def ingestAuditAgainstIndex(
      spark: SparkSession,
      dir: String,
      indexPath: String,
      ledgerPath: String,
      checkpoint: String,
      threshold: Double = 0.5) = {
    spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        auditBatch(batch, batchId, indexPath, ledgerPath, threshold)
      }
      .start()
  }

  /** One micro-batch of [[ingestAuditAgainstIndex]]'s ledger, idempotent
    * under replay: foreachBatch is at-least-once, so a replayed batch must
    * OVERWRITE its own slice of the ledger, not append a duplicate —
    * ledger rows carry `batch_id` and each write uses dynamic partition
    * overwrite (a replay rewrites exactly the `batch_id=N` partition).
    * StreamDedupSpec pins this by running the same batch twice.
    *
    * The partition key is the RAW engine batchId, unique only within one
    * checkpoint lineage — `ledgerPath` must therefore be unique per
    * lineage (a reset checkpoint restarts at batch 0 and would overwrite
    * the old lineage's slices). The audit ledger is a per-run report, so
    * one-path-per-lineage is its natural deployment; the ADMIT loop's
    * ledger below, which feeds a long-lived index, namespaces its
    * partitions by stream lineage instead (see [[admitBatch]]).
    */
  def auditBatch(
      batch: org.apache.spark.sql.DataFrame,
      batchId: Long,
      indexPath: String,
      ledgerPath: String,
      threshold: Double): Unit = {
    // at-least-once delivery can replay a doc WITHIN one batch file, not
    // just across batches: without this dedup the duplicate id rows
    // multiply through the verify join (inflating n_dups) and the ledger
    // write emits duplicate rows for the same (batch_id, doc_id) — the
    // same pollution StreamAnn.probeBatch dedups vec_id against
    val docs = batch.dropDuplicates("doc_id")
    val pairs = graft.operators.Dedup.exactJaccardPairsStaged(
      docs, indexPath, "doc_id", "text", threshold)
    docs.select(col("doc_id"))
      .join(pairs.groupBy(col("in_id").as("doc_id"))
        .agg(count(lit(1)).as("n_dups"),
          max(floor(col("jac") * 1000000.0).cast("long")).as("best_jac_ppm")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("best_jac_ppm"), lit(0L)).as("best_jac_ppm"),
        lit(batchId).as("batch_id"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .mode("overwrite")
      .parquet(ledgerPath)
  }

  /** The CLOSED probe-then-admit ingest loop, live under Structured
    * Streaming: each micro-batch is probed against the persisted MinHash
    * index ([[graft.sources.Layouts.minhashIndex]]), its per-doc statuses
    * land in a batch_id-partitioned ledger, and the ADMITTED (kept) docs
    * are appended into the index under the ENGINE's own batch identity —
    * so the next batch dedups against them. This is x153's
    * three-generation lifecycle as a continuous pipeline, with the index
    * as the only cross-batch state (stream state is O(batch)).
    *
    * Replay safety is the interesting contract. foreachBatch is
    * at-least-once, and a naive replay of batch N would probe an index
    * that ALREADY CONTAINS batch N's admitted docs — every doc would
    * classify as a dup of itself, the "kept" set would collapse to
    * empty, and the slice overwrite would then ERASE batch N's
    * contribution while the ledger recorded all of it as duplicate. The
    * fix is structural: the probe EXCLUDES the index's own `batch_id =
    * b<N>` slice, so a replay sees exactly the pre-batch index (later
    * batches cannot exist yet — foreachBatch commits in order), computes
    * byte-identical statuses, and the slice/ledger overwrites are
    * no-ops. StreamDedupSpec pins admit(b); admit(b) ≡ admit(b) on
    * statuses, index rows, AND a follow-up probe.
    *
    * Slice identity: the engine's batchId is unique only WITHIN one
    * checkpoint lineage — a reset checkpoint (or a second stream feeding
    * the same index) restarts at batch 0 and would overwrite lineage-0's
    * slices while the self-exclusion hid them from the probe, silently
    * destroying earlier admissions (review r15). Slices are therefore
    * namespaced `<streamId>-b<batchId>`; `streamId` defaults to a stable
    * hash of the checkpoint path, so one lineage is self-consistent
    * across restarts and a FRESH checkpoint gets a fresh namespace
    * (old-lineage admissions stay visible to its probes, as corpus state
    * should). Multiple writers into one index must pass distinct
    * explicit `streamId`s.
    */
  def ingestAdmitLoop(
      spark: SparkSession,
      dir: String,
      indexPath: String,
      ledgerPath: String,
      checkpoint: String,
      threshold: Double = 0.5,
      streamId: Option[String] = None,
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000) = {
    val sid = streamId.getOrElse(
      f"ck${scala.util.hashing.MurmurHash3.stringHash(checkpoint) & 0x7fffffff}%08x")
    spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        admitBatch(batch, batchId, indexPath, ledgerPath, threshold,
          streamId = sid, groupBytes = groupBytes, pageRows = pageRows)
      }
      .start()
  }

  /** One micro-batch of [[ingestAdmitLoop]]: probe (self-excluding),
    * admit, append, ledger. Public so the spec can drive the replay case
    * directly, like [[auditBatch]]. `groupBytes`/`pageRows` flow to the
    * index append so stream-grown slices keep the BUILD's layout physics
    * (a deployment that tuned the build knobs applies them here too).
    */
  def admitBatch(
      batch: org.apache.spark.sql.DataFrame,
      batchId: Long,
      indexPath: String,
      ledgerPath: String,
      threshold: Double,
      streamId: String = "s0",
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000): Unit = {
    implicit val spark: SparkSession = batch.sparkSession
    val bid = s"$streamId-b$batchId"
    // in-batch re-deliveries collapse first, as in auditBatch
    val docs = batch.dropDuplicates("doc_id").localCheckpoint()
    // manifest-managed index: resolve the current immutable generation
    // ONCE for all three probe reads — a compact publishing mid-probe
    // cannot move this batch's root out from under it (the previous
    // generation survives as grace until the next compact)
    val root = graft.sources.Layouts.indexRoot(indexPath)
    val (k, bands, shingleN) = graft.sources.Layouts.minhashParams(indexPath)
    // self-exclusion: never probe against this batch's own slice (see
    // the replay contract above); first-run batches have no slice and
    // the filter is a no-op
    def tbl(name: String) =
      spark.read.parquet(s"$root/$name").where(col("batch_id") =!= bid)
    // statuses MATERIALIZE before the append below mutates the very
    // tables the probe reads — left lazy, the ledger write would
    // re-probe the GROWN index and misclassify the batch against itself
    val st = graft.operators.Dedup.incrementalDedupStaged(
      docs, tbl("fp"), tbl("banded"), tbl("shingles"), "doc_id", "text",
      k, bands, shingleN, threshold)
      .localCheckpoint()
    // admitted docs materialize once; the append's three table writes
    // would otherwise re-run the probe-derived join per write
    val kept = docs.join(
      st.where(col("status") === "kept").select("doc_id"), "doc_id")
      .localCheckpoint()
    // the index append and the ledger write are INDEPENDENT writes of
    // already-materialized frames (kept / st are localCheckpointed
    // above), so they overlap (guide §2.6, r19 optimization round) —
    // running them back to back paid a full driver+commit wall each
    // while the trigger held the stream. Recovery is unchanged: both
    // are idempotent slice overwrites keyed on `bid`, the checkpoint
    // commits only after BOTH return, and a replay of a crash between
    // them rewrites both slices to the same bytes whichever landed.
    //
    // (Ledger partitioning, ADVICE r15: the STREAM-SCOPED id, exactly
    // like the index slices — partitioned on the raw engine batchId, a
    // reset checkpoint or a second stream sharing ledgerPath would
    // dynamically overwrite the earlier lineage's `batch_id=N` slices
    // and silently destroy its audit records. The engine's numeric id
    // stays decodable as the `engine_batch_id` row column.)
    graft.sources.Layouts.inParallel(
      () => graft.sources.Layouts.minhashAppend(kept, indexPath,
        groupBytes = groupBytes, pageRows = pageRows, batchId = Some(bid)),
      () => st.withColumn("engine_batch_id", lit(batchId))
        .withColumn("batch_id", lit(bid))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .mode("overwrite")
        .parquet(ledgerPath))
  }

  /** Bounded-state streaming dedup over the EVENTS feed:
    * `dropDuplicatesWithinWatermark` on the idempotency key keeps a seen-key
    * entry only until the watermark passes its event time + the lateness
    * bound, so state is O(keys-per-window), not O(keys-ever) — the form a
    * 100 TB/day at-least-once ingest actually runs (the unbounded
    * [[dedupByFingerprint]] grows state with corpus cardinality; fine for
    * corpus dedup, wrong for an infinite telemetry feed). Re-deliveries
    * inside the bound are dropped even when their timestamps differ —
    * exactly the at-least-once re-delivery shape (same key, jittered time)
    * plain dropDuplicates on (key, time) would let through.
    */
  def dedupEventsWithinWatermark(
      spark: SparkSession, dir: String, sinkName: String,
      lateness: String = "1 hour") = {
    graft.streaming.EventsStream.readEvents(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("append")
      .start()
  }
}
