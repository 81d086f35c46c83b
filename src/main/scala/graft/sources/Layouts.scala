package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, explode, expr, lit}

/** Parquet WRITE-path layouts that make the read-path pruning ladder work
  * (row-group stats → page index → bloom, see
  * [[graft.metrics.BytePlanner]]). The reference reads layouts it assumes
  * someone else staged (v1/src/main.rs:122-128 takes the files as given);
  * a library a pipeline actually migrates to must also produce them.
  *
  * Layout rules at 100 TB:
  *  - range-prunable columns (time, monotone ids) want the data SORTED on
  *    them so row-group/page min-max ranges are disjoint — `sortedStats`;
  *  - point-probed high-cardinality keys want bloom filters (and those
  *    only materialize once the column overflows dictionary encoding) —
  *    `bloomKeys`;
  *  - co-located joins/aggregations want bucketed tables so repeated
  *    queries skip the shuffle entirely — `bucketed` (bucket count fixes
  *    write-side parallelism: pick ~ data / 128 MB, NOT executor count).
  */
object Layouts {

  /** Batch ids become partition directory names and, on retraction, glob
    * components — restrict them to a charset that is inert in both (no
    * path separators, no Hive-escape-worthy specials, no Hadoop glob
    * metacharacters). Applied on every write so a bad id fails at append
    * time, not when its retraction glob deletes a sibling generation.
    */
  /** Run independent Spark write jobs concurrently (optimization guide
    * §2.6 "overlap independent jobs"): a multi-table index build's
    * per-table writes share no state beyond an already-cached input
    * frame, yet running them back to back pays full driver latency +
    * commit wall per table while most cores idle through each job's
    * tail. Submitting them from a small per-call pool lets one job's
    * tasks back-fill the executor threads the previous job's tail frees.
    * Concurrent first-touch of a cached input is safe: the block
    * manager computes each cached partition under a per-block lock, so
    * racing jobs share one materialization. The first failure
    * propagates (as its original exception); the pool never outlives
    * the call.
    */
  private[graft] def inParallel(work: (() => Unit)*): Unit =
    if (work.sizeIs <= 1) work.foreach(_.apply())
    else {
      // Fail-fast + sibling cancellation (ADVICE r18): waiting in
      // submission order meant a fast failure in a later thunk was only
      // observed after every earlier write finished, and shutdownNow()
      // then interrupted sibling Spark jobs MID-COMMIT. Completions are
      // now taken in finish order, and the first failure cancels the
      // siblings through a shared job group (interruptOnCancel) before
      // rethrowing. A failed concurrent build still requires the same
      // retract/replay recovery as a crash — some sibling slices may
      // have committed, others not; the protocol's idempotent replay
      // (dynamic slice overwrite) is the recovery path either way.
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val gid = s"graft-inparallel-${java.util.UUID.randomUUID}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
      val ecs = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
      try {
        work.foreach(w => ecs.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            // job-group the sibling writes (thread-local, one group per
            // inParallel call) so the failure path can cancel them as a
            // unit instead of interrupting threads blindly
            sc.foreach(_.setJobGroup(gid, "graft concurrent table writes",
              interruptOnCancel = true))
            try w() finally sc.foreach(_.clearJobGroup())
          }
        }))
        var done = 0
        while (done < work.size) {
          try { ecs.take().get(); done += 1 }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              sc.foreach(_.cancelJobGroup(gid))
              throw e.getCause
          }
        }
      } finally pool.shutdownNow()
    }

  /** Recursive tree copy that HARDLINKS file contents when source and
    * destination live on the same local filesystem, falling back to a
    * per-file stream copy when the link fails (cross-device move,
    * filesystem without hardlink support) and to `FileUtil.copy` on
    * non-local filesystems. The staged-index template forks and the
    * manifest protocol's slice copies move megabytes of parquet per
    * lifecycle step through the driver; a link is one inode operation
    * per file instead of a full read+write (guide §6's small-file cost,
    * applied to the copy side). SAFE because every copied file is
    * WRITE-ONCE: Spark emits uniquely-named part files and a dynamic
    * overwrite REPLACES files rather than mutating them in place, so
    * content shared through a link can never be changed through either
    * path, and deleting one side never affects the other (the inode
    * survives until its last link drops).
    */
  private[graft] def copyTree(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration,
      allowLink: Boolean = true): Unit = {
    val st = fs.getFileStatus(src)
    if (st.isDirectory) {
      fs.mkdirs(dst)
      fs.listStatus(src).foreach(c =>
        copyTree(fs, c.getPath,
          new org.apache.hadoop.fs.Path(dst, c.getPath.getName), conf,
          allowLink))
    } else {
      val linked = allowLink && fs.getScheme == "file" &&
        (try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(src.toUri.getPath))
          true
        } catch {
          // fall back, never fail: the copy contract is the behavior,
          // the link is only the fast path
          case _: java.io.IOException | _: UnsupportedOperationException |
              _: SecurityException => false
        })
      if (!linked)
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    }
  }

  /** Fan a narrow input out to the session's default parallelism before
    * a compute-heavy per-row derivation (tokenize/explode/signature
    * kernels — optimization guide §2.5): a fixture-scale parquet holds
    * one row group, so the scan plans ONE task and the whole derivation
    * serializes on one core. Scale-adaptive: fires only when the planned
    * scan width is below the session default, so a production corpus —
    * whose scan already carries ≥ cores splits — is never re-shuffled;
    * when it does fire it moves the RAW input rows, which are strictly
    * smaller than the exploded rows the downstream range shuffle moves
    * anyway (the guide §8 rule: shuffle the light proxy, not the heavy
    * derivative).
    */
  private[graft] def fanOutScan(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  private def requireBatchId(id: String): Unit =
    require(id.nonEmpty && id.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"batch id '$id' must be non-empty [A-Za-z0-9._-] — it names a " +
        "partition directory and feeds the retraction glob")

  /** Repartition-by-range + in-partition sort on `sortCols`, so every
    * row group AND page holds a disjoint interval of the sort key: a
    * range predicate then prunes groups via stats and pages via the
    * column index. `groupBytes`/`pageRows` trade pruning granularity
    * against metadata size (the reference's near-storage trade, F5/F9).
    */
  def sortedStats(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0,
      mode: String = "overwrite",
      batchId: Option[String] = None,
      dynamicOverwrite: Boolean = false): Unit = {
    val cols = sortCols.map(col)
    // Scale-adaptive write width when the caller does not pin one
    // (optimization guide §2/§6): partitions = 0 used to inherit the
    // session's shuffle width, so a kilobyte-sized slice still wrote
    // `spark.sql.shuffle.partitions` near-empty files — at local[32]
    // that is 32 parquet commits (open + footer + rename on the scratch
    // device, measured ~0.4 s of executor time EACH on the r18 before-
    // window) per table write, and every downstream manifest copy and
    // probe listing pays the file count again. One range partition per
    // `groupBytes` of estimated input instead, clamped to the session's
    // shuffle width so a large input behaves exactly as before (in
    // production the width comes from shuffle.partitions or the explicit
    // `partitions` arg; the estimate only ever NARROWS tiny writes).
    // The /4 documents the uncompressed-plan-stats → parquet-bytes gap
    // (the inverse of spark.sql.sources.fileCompressionFactor). An
    // AQE-actual-bytes variant (write under a conf-isolated cloned
    // session, parallelismFirst off, advisory = groupBytes) was A/B'd
    // across two full bench windows and LOST — the per-write replan +
    // range-sample overhead exceeded what exact widths saved on every
    // build family except the corpus-sized posting table; this estimate
    // is the measured winner (OPTIMIZATION_r18.md).
    // Estimator failure modes (ADVICE r18): size-only plan stats do not
    // shrink Filter/Join outputs and the fixed /4 compression guess can
    // under- or over-shoot, so a mid-sized DERIVED input (join/aggregate
    // frame) can collapse to width 1 — correctness holds either way
    // (sort + parquet.block.size still bound row groups) and the UNKNOWN-
    // stats sentinel is safe by construction (a huge default estimate
    // clamps to the session cap, never to 1). Callers that need a wider
    // write for a derived frame pass `partitions` explicitly.
    val width =
      if (partitions > 0) partitions
      else {
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes / 4
        val byBytes = (est + BigInt(groupBytes) - 1) / BigInt(groupBytes)
        val cap = BigInt(df.sparkSession.sessionState.conf.numShufflePartitions)
        byBytes.min(cap).max(BigInt(1)).toInt
      }
    val ranged =
      if (width > 1) df.repartitionByRange(width, cols: _*)
      // one partition needs no range boundaries: a plain 1-way shuffle
      // (the in-partition sort below still orders every row)
      else df.repartition(1)
    // mode "append" (the index-maintenance path): each appended file
    // still carries its own sorted row-group/page stats, so per-file
    // pruning holds; ranges may overlap ACROSS generations, which widens
    // pruning but never misses — rebuild to re-tighten when drift warrants.
    // batchId: the row set is written under a `batch_id=<id>` partition
    // directory; with dynamicOverwrite, mode "overwrite" replaces ONLY
    // that batch's slice (partitionOverwriteMode=dynamic rides the write,
    // never the shared session conf), which is what makes an index append
    // a replayable no-op — see [[minhashAppend]].
    val sorted = ranged.sortWithinPartitions(cols: _*)
    val writer = batchId match {
      case Some(b) =>
        sorted.withColumn("batch_id", lit(b)).write.mode(mode)
          .partitionBy("batch_id")
      case None => sorted.write.mode(mode)
    }
    val w = if (dynamicOverwrite) writer.option("partitionOverwriteMode", "dynamic")
            else writer
    w.option("parquet.block.size", groupBytes.toString)
      .option("parquet.page.row.count.limit", pageRows.toString)
      .parquet(path)
  }

  /** Hive-style partition directories on a low-cardinality column: the
    * coarsest pruning tier — a partition filter skips whole directories
    * before any footer is read, and a join against a filtered dim on the
    * partition key prunes at RUNTIME via dynamic partition pruning (the
    * subquery-driven partition filter Spark injects; see LayoutsSpec).
    * Keep cardinality low: every distinct value is a directory, and tiny
    * partitions recreate the small-file problem `compact` exists to fix.
    */
  def hivePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Bloom filters on point-probe keys. Dictionary encoding is disabled
    * for those columns: parquet-mr silently skips the bloom while a chunk
    * stays fully dictionary-encoded, which a small fixture would — and a
    * real key column overflows the dictionary anyway.
    */
  def bloomKeys(df: DataFrame, path: String, keys: Seq[String]): Unit =
    keys.foldLeft(df.write.mode("overwrite")) { (w, k) =>
      w.option(s"parquet.bloom.filter.enabled#$k", "true")
        .option(s"parquet.enable.dictionary#$k", "false")
    }.parquet(path)

  /** Z-order (Morton) layout over exactly two numeric columns: each value
    * maps to an 8-bit bucket of its [min, max] span, the bucket bits
    * interleave into a 16-bit Z-value, and the data is range-partitioned +
    * sorted on it. Consecutive Z runs are small rectangles of the value
    * plane, so row-group/page min-max stats stay narrow on BOTH columns —
    * a range predicate on EITHER prunes, where a plain sort clusters only
    * its leading column. Uniform bucketing keeps the mapping a pure
    * map-side expression (the two min/max pairs are the only driver-side
    * stats); skewed columns would swap in approx-quantile boundaries, same
    * interleave.
    */
  def zordered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0): Unit = {
    import org.apache.spark.sql.functions.{expr, max => fmax, min => fmin}
    val r = df.agg(
      fmin(col(colA).cast("double")), fmax(col(colA).cast("double")),
      fmin(col(colB).cast("double")), fmax(col(colB).cast("double"))).head()
    // empty input (or all-null z columns) → null aggregates: degrade to a
    // constant z (the write still produces a valid, empty-or-unordered
    // layout) instead of an NPE killing the layout job
    def stat(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    // column names ride in BACKTICK-QUOTED form: a raw splice of a name
    // like `a-b` or one with spaces would parse as arithmetic / fail
    // (review r13); quoting keeps the expression meaning "this column"
    // for every legal column name
    def q(c: String): String = s"`${c.replace("`", "``")}`"
    def b(c: String, lo: Double, hi: Double): String =
      if (hi <= lo) "0L"
      else s"CAST(least(greatest((${q(c)} - $lo) / ${hi - lo}, 0d), 1d) * 255 AS BIGINT)"
    val ba = b(colA, stat(0), stat(1))
    val bb = b(colB, stat(2), stat(3))
    // interleave: bit k of A → bit 2k+1, bit k of B → bit 2k
    val z = (0 until 8).map { k =>
      s"(shiftleft(shiftright($ba, $k) & 1, ${2 * k + 1}) | " +
        s"shiftleft(shiftright($bb, $k) & 1, ${2 * k}))"
    }.mkString(" | ")
    // collision-free name, never a bare "__z": withColumn would silently
    // REPLACE a user column of that name and drop() would then delete the
    // user's data from the written layout (review r13). Deterministic so
    // repeated builds plan identically.
    val zc = Iterator.iterate("__z")(_ + "_")
      .dropWhile(df.columns.contains).next()
    val withZ = df.withColumn(zc, expr(z))
    val ranged =
      if (partitions > 0) withZ.repartitionByRange(partitions, col(zc))
      else withZ.repartitionByRange(col(zc))
    ranged
      .sortWithinPartitions(zc)
      .drop(zc)
      .write.mode("overwrite")
      .option("parquet.block.size", groupBytes.toString)
      .option("parquet.page.row.count.limit", pageRows.toString)
      .parquet(path)
  }

  /** Small-file compaction: rewrite a directory of many parquet files into
    * ceil(bytes / targetBytes) files, optionally re-sorted so statistics
    * stay prunable after the rewrite. The operational counterpart of every
    * streaming sink (micro-batches leave file-per-trigger debris; metadata
    * and task-startup costs grow with file count, not data size).
    */
  def compact(
      inDir: String,
      outDir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil)(implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    // size via the Hadoop FileSystem API: java.io.File returns null for
    // any non-local scheme (hdfs://, s3a://, file:) and does not recurse
    // into partition subdirectories — either way bytes would read 0 and
    // the "compaction" would funnel the whole table through ONE task
    val p = new org.apache.hadoop.fs.Path(inDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inDir)
    val shaped =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nOut)
    shaped.write.mode("overwrite").parquet(outDir)
  }

  /** Char-trigram posting index, PERSISTED: (doc_id, tri) exploded from
    * `textCol`, range-partitioned and sorted on the term so every row
    * group and page holds a disjoint trigram interval — a probe for a
    * pattern's trigrams (`tri IN (...)`) then prunes to the handful of
    * pages holding those terms, and the corpus text column never appears
    * in the scan at all. This is the layout x87 builds inline per query;
    * at 100 TB the index is written once here and amortized across every
    * substring search (the posting table is ~corpus-sized, so rebuilding
    * it per query would cost a full corpus scan each time — exactly the
    * scan the index exists to avoid).
    */
  /** The ONE definition of a corpus slice's posting rows (doc_id,
    * distinct char-trigram), shared by [[postingIndex]] and
    * [[postingAppend]] — two copies of the shingling expression could
    * silently desynchronize append from rebuild, the exact invariant
    * x157/LayoutsSpec gate (review r15).
    */
  private def postingRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{array_distinct, explode, expr, length}
    docs.where(length(col(textCol)) >= 3)
      .select(col(idCol),
        explode(array_distinct(expr(
          s"transform(sequence(1, length($textCol) - 2), i -> substring($textCol, i, 3))")))
          .as("tri"))
  }

  def postingIndex(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0): Unit =
    // fanOutScan on the CORPUS build only (guide §2.5) — the append path
    // shares postingRows but feeds bounded batches where a fan-out is
    // pure overhead (measured on the streaming admit rows)
    sortedTable(postingRows(fanOutScan(docs), idCol, textCol), path, Seq("tri"),
      groupBytes = groupBytes, pageRows = pageRows, partitions = partitions)

  /** The ONE definition of a doc batch's POSITIONAL posting rows
    * (term, doc_id, pos — 1-based token position under x52's whitespace
    * split), shared by [[positionalIndex]] and [[positionalAppend]] —
    * the [[postingRows]]/[[bm25PostingRows]] single-definition rule.
    */
  private def positionalRows(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.functions.posexplode(
        org.apache.spark.sql.functions.split(col(textCol), " ")))
      .select(col("doc_id"), col("col").as("term"),
        (col("pos") + 1).cast("long").as("pos"))

  /** Positional term index, PERSISTED: (term, doc_id, pos) rows
    * range-partitioned + sorted on the term — the layout exact-PHRASE
    * retrieval needs (eval-set decontamination by phrase, quote
    * detection, adjacency search), which the bag-of-words BM25 postings
    * cannot express. A phrase probe reads only the phrase's terms'
    * posting ranges (`In(term, ...)` row-group pruning) and verifies
    * adjacency with a shuffle keyed on (doc_id, start) over just those
    * rows — O(matching postings), never a corpus text scan
    * ([[graft.operators.Phrase]]). The table is ONE managed
    * [[sortedTable]] at `path`, i.e. exactly [[sortedTableAppend]]'s
    * geometry: the whole manifest lifecycle comes for free —
    * [[positionalAppend]] for sealed O(batch) appends,
    * [[sortedRebase]]`(path, Seq("term"))` for the no-quiesce compact,
    * [[dropBatch]] to retract. The index is
    * token-count-sized (one row per token, vs one per distinct
    * (term, doc) pair for BM25); a stop-word-heavy phrase still prunes
    * to its rarest term's df after the first join — order probes by
    * ascending df upstream when that matters.
    */
  def positionalIndex(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0): Unit =
    sortedTable(positionalRows(docs, idCol, textCol), path, Seq("term"),
      groupBytes = groupBytes, pageRows = pageRows, partitions = partitions)

  /** Incremental maintenance of a persisted positional index: the
    * batch's (term, doc_id, pos) rows land as their own sealed
    * `batch_id` slice via [[sortedTableAppend]] — per-doc independent
    * like every posting family, so append ≡ rebuild holds trivially and
    * an explicit `batchId` replays as a dynamic-overwrite no-op.
    */
  def positionalAppend(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      batchId: Option[String] = None): Unit =
    sortedTableAppend(positionalRows(docs, idCol, textCol), path, Seq("term"),
      groupBytes = groupBytes, pageRows = pageRows, partitions = 1,
      batchId = batchId)

  /** BM25 term-posting index, PERSISTED as three batch-sliced sorted
    * tables under `path` — every table SLICE-LOCAL, so maintenance is
    * O(batch) and retraction is pure slice deletion. (The round-17
    * design re-derived a df/(n, total) sidecar pair from the whole
    * postings table on every append/retract — an index-sized
    * aggregation per ingest batch, measured at growth exponents
    * 0.25/0.53 by the sweep, behind a rename-aside pair swap a
    * concurrent probe could race. VERDICT/ADVICE r17.)
    *
    *  - `postings` (term, doc_id, tf, dl): range-partitioned + sorted
    *    on the term, so a query's `In(term, ...)` prunes to its row
    *    groups. The doc length is DENORMALIZED into every posting row
    *    (the norms-in-postings layout real inverted indexes use) so a
    *    probe never joins a corpus-sized doc-length table.
    *  - `deltas` (term, df | n, total): each slice carries the BATCH's
    *    per-term df contribution plus ONE global row (term NULL) with
    *    the batch's (doc count, token total). Probes MERGE ON READ:
    *    df = SUM(df) over the query terms' delta rows, (n, total) =
    *    the sum of the global rows — O(query terms + slices), never
    *    O(index). Under the family's per-doc-independence contract
    *    (appends carry whole NEW docs) the corpus-level statistics are
    *    slice-ADDITIVE, which is what makes append O(batch) and
    *    retract a slice drop.
    *  - `champions` (term, doc_id, tf, dl): the top-`champions`
    *    postings per term by (tf desc, doc_id) — the impact-ordered
    *    tier [[graft.operators.Bm25.topKChampions]] serves, so a
    *    stop-word-class term costs O(champions) instead of O(df). A
    *    slice's local top-C CONTAINS every posting of the global top-C
    *    that lives in that slice (championed globally ⇒ championed at
    *    home), so the probe-side re-rank over the merged slices is
    *    exact — champion maintenance is O(batch) like the others.
    *
    * Atomicity: append slices are one file per table and appear at the
    * commit rename, so a concurrent probe sees a maintenance batch's
    * slice in each table entirely or not at all; ACROSS tables a probe
    * may briefly see the postings slice before its delta slice (new
    * docs scored under the pre-append corpus statistics — bounded
    * staleness, gone when the delta commits). There is no sidecar swap
    * left to race. Each table is born managed — its own `g=000000000` +
    * manifest v0, like [[sortedTable]] — so retraction and compaction
    * run against live probes (immutable generations + grace); the tier
    * width stays in `_params` at the index path. Tokenization mirrors
    * x52's whitespace split exactly — the probe must reproduce the
    * full-corpus scoring bit for bit, which is what the x178 oracle
    * gates.
    */
  def bm25Index(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0,
      champions: Int = 50): Unit = {
    require(champions >= 1, s"champions must be >= 1 (got $champions)")
    val spark = docs.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val tables = Bm25Tables.map(t => s"$path/$t")
    // refuse (or clear crash debris) on every table before writing any
    val Seq(postRoot, deltaRoot, champRoot) = tables.map(gen0Root(_, conf))
    // cache: ONE tokenize+tf pass feeds all three table writes (the
    // minhashIndex barrier pattern — without it each write re-scans
    // the corpus)
    val post = bm25PostingRows(docs, idCol, textCol).cache()
    // a fresh build at a private path has no live probes to order
    // writes for, so the three data tables land concurrently
    // ([[inParallel]]) — they share the one cached tokenize+tf pass
    try {
      inParallel(
        () => sortedStats(post, postRoot, Seq("term"),
          groupBytes = groupBytes, pageRows = pageRows, partitions = partitions,
          batchId = Some("base")),
        () => sortedStats(bm25DeltaRows(post), deltaRoot, Seq("term"),
          groupBytes = groupBytes, pageRows = pageRows, partitions = partitions,
          batchId = Some("base")),
        () => sortedStats(bm25ChampionRows(post, champions), champRoot,
          Seq("term"),
          groupBytes = groupBytes, pageRows = pageRows, partitions = partitions,
          batchId = Some("base")))
      // the champion tier only serves exactly if appends and compactions
      // re-select with the SAME C the build used (the minhashIndex
      // parameter contract, applied to the tier width)
      writeParams(path, Map("champions" -> champions), conf)
      tables.foreach(publishGen0(_, Map.empty, provenance = false, conf))
    } finally post.unpersist()
  }

  /** The three tables of a BM25 index, each under its own manifest. */
  private val Bm25Tables = Seq("postings", "deltas", "champions")

  /** The ONE definition of a doc batch's BM25 posting rows (term,
    * doc_id, tf, dl), shared by [[bm25Index]], [[bm25Append]] and the
    * champion/delta derivations — two copies of the tokenize/tf/dl
    * tree could silently desynchronize append from rebuild (the
    * [[postingRows]] lesson, review r15).
    */
  private def bm25PostingRows(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, split, sum}
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("term"))
    // the (doc, term) groupBy is map-side combined, so the shuffle
    // carries distinct pairs, not raw tokens; dl then comes from a
    // window SUM of tf over the doc — no join against a corpus-sized
    // doc-length table (a join's build side here is corpus-sized, the
    // exact broadcast-OOM shape the sweep's 500k-doc cell hit), and no
    // second pass over the token explode. The per-batch dl window is
    // the doc's FULL length because batches carry whole docs (the
    // per-doc independence contract all the append paths share).
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.withColumn("dl", sum("tf").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .select("term", "doc_id", "tf", "dl")
  }

  /** A batch's `deltas` slice rows: per-term df plus the ONE global row
    * (term NULL) carrying the batch's (n, total). Every doc has >= 1
    * token (split never yields an empty array), so the postings cover
    * all docs and n/total need no separate pass. Probes sum these
    * across slices — see [[bm25Index]].
    */
  private def bm25DeltaRows(postings: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count, countDistinct, sum}
    postings.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("n", lit(null).cast("long"))
      .withColumn("total", lit(null).cast("long"))
      .unionByName(postings
        .agg(countDistinct("doc_id").as("n"), sum("tf").as("total"))
        .select(lit(null).cast("string").as("term"),
          lit(null).cast("long").as("df"), col("n"), col("total")))
  }

  /** A batch's `champions` slice rows: the top-`c` postings per term by
    * (tf desc, doc_id) WITHIN the batch — see [[bm25Index]] for why the
    * slice-local tier keeps the merged probe exact. Also the champion
    * fold shape under [[bm25Compact]].
    */
  private def bm25ChampionRows(postings: DataFrame, c: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(col("tf").desc, col("doc_id").asc)
    postings
      .withColumn("__cr", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("__cr") <= c).drop("__cr")
  }

  /** Incremental maintenance of a persisted BM25 index, O(batch): the
    * batch's postings, its df/(n, total) delta, and its champion tier
    * each land as their own `batch_id` slice via [[sortedTableAppend]]
    * (sealed and manifest-chased like every other family's). NOTHING index-sized
    * runs: corpus statistics are merged at probe time from the delta
    * slices. Same replay semantics as [[postingAppend]] — an explicit
    * `batchId` replays as a dynamic-overwrite no-op per table; without
    * one the write is a plain append under an anonymous slice.
    *
    * `enforceNewDocs` (default on — ADVICE r17): the append contract is
    * WHOLE NEW docs; re-appending an existing doc_id under a new batch
    * would double-count df/n/total and silently shift every score. The
    * guard anti-probes the batch's doc_ids (broadcast — the batch is
    * the small side) against the postings table minus the batch's own
    * slice (so an at-least-once replay still passes) and fails loudly
    * on overlap. It costs one postings doc_id-column scan per append;
    * an ingest loop that already ledgers batch identity upstream can
    * disable it to keep maintenance strictly O(batch) — the sweep does,
    * and measures both modes.
    */
  def bm25Append(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      batchId: Option[String] = None,
      enforceNewDocs: Boolean = true): Unit = {
    val spark = docs.sparkSession
    val postRoot = bm25Roots(path, spark.sparkContext.hadoopConfiguration).head
    val c = bm25Champions(path)(spark)
    val post = bm25PostingRows(docs, idCol, textCol).cache()
    try {
      if (enforceNewDocs) {
        import org.apache.spark.sql.functions.broadcast
        val existing = spark.read.parquet(postRoot)
        val scoped = batchId.fold(existing)(b =>
          existing.where(col("batch_id") =!= b))
        val hit = scoped
          .join(broadcast(post.select("doc_id").distinct()), "doc_id")
          .select("doc_id").limit(1).collect()
        require(hit.isEmpty,
          s"append batch re-carries doc_id ${hit.headOption.map(_.get(0)).getOrElse("?")} " +
            s"already in the index at $path — appends must carry whole NEW " +
            "docs (per-doc independence); a re-appended doc double-counts " +
            "df/n/total and shifts every score. Retract its old batch " +
            "first, or pass enforceNewDocs = false if batch identity is " +
            "ledgered upstream")
      }
      // postings/champions FIRST (concurrently — [[inParallel]], they
      // order against the DELTA commit, not each other), delta LAST: a
      // probe before the delta commit scores the new docs under the
      // pre-append corpus statistics (bounded staleness); a delta
      // landing first would transiently shift every EXISTING doc's
      // score instead
      inParallel(
        () => sortedTableAppend(post, s"$path/postings", Seq("term"),
          groupBytes = groupBytes, pageRows = pageRows, partitions = 1,
          batchId = batchId),
        () => sortedTableAppend(bm25ChampionRows(post, c), s"$path/champions",
          Seq("term"),
          groupBytes = groupBytes, pageRows = pageRows, partitions = 1,
          batchId = batchId))
      sortedTableAppend(bm25DeltaRows(post), s"$path/deltas", Seq("term"),
        groupBytes = groupBytes, pageRows = pageRows, partitions = 1,
        batchId = batchId)
    } finally post.unpersist()
  }

  /** Retract one ingest batch from a BM25 index: drop its slices across
    * all three tables ([[dropBatch]] — O(batch files), every retained
    * generation). Because df/(n, total) live in the batch's OWN delta
    * slice, the corpus statistics forget the batch with the deletion —
    * no refresh, no index-sized aggregation (VERDICT r17 #1): every
    * remaining score equals a never-appended build's by construction.
    * Fails loudly when the id matches nothing (ADVICE r17): a typo'd
    * GDPR retraction must not report success while the poison batch
    * keeps serving. (A deliberately replayed retraction therefore
    * throws on the second run — catch it if retractions are
    * at-least-once.) Returns the number of slice dirs dropped.
    */
  def bm25Retract(path: String, batchId: String)(
      implicit spark: org.apache.spark.sql.SparkSession): Int = {
    val n = dropBatch(path, batchId)
    require(n > 0,
      s"batch '$batchId' matched no slice under $path — nothing was " +
        "retracted; check the id (the poison batch is still serving)")
    n
  }

  /** Check that a BM25 index is fully published: each of its three
    * tables resolves its own manifest generation (`_params` stays at the
    * index path — parameter identity, not generation state). Every
    * index build already publishes them, so on an index [[bm25Index]] wrote
    * this only reads; it throws `IllegalArgumentException` naming the
    * table on anything else. Cross-table version skew is harmless by
    * construction: every generation of a table is content-equivalent
    * through its folds (summed deltas, re-selected champions), so a
    * probe resolving different versions per table still serves one
    * index state — unlike the r17 sidecar pair, nothing must swap in
    * lockstep.
    */
  def manageBm25(path: String)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit =
    bm25Roots(path, spark.sparkContext.hadoopConfiguration)

  /** Current generation roots of the BM25 tables, in [[Bm25Tables]] order. */
  private def bm25Roots(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] =
    Bm25Tables.map(t => currentGeneration(s"$path/$t", conf)._2)

  /** Compact a BM25 index back toward one `base` slice per table:
    * postings re-sort (the [[sortedRebase]] fold), deltas AGGREGATE —
    * df summed per term, the per-batch global rows summed to one (the
    * fold that keeps the merge-on-read table from growing one row set
    * per batch forever) — and champions re-select top-C over the merged
    * slices. O(index), never a corpus rescan. Each table compacts as a
    * no-quiesce generation publish.
    */
  def bm25Compact(
      path: String,
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0,
      graceGenerations: Int = 1)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.functions.sum
    manageBm25(path) // refuse an unpublished index before reading its parameters
    val c = bm25Champions(path)
    def aggDeltas(df: DataFrame): DataFrame =
      df.where(col("term").isNotNull)
        .groupBy("term").agg(sum("df").as("df"))
        .withColumn("n", lit(null).cast("long"))
        .withColumn("total", lit(null).cast("long"))
        .unionByName(df.where(col("term").isNull)
          .agg(sum("n").as("n"), sum("total").as("total"))
          .select(lit(null).cast("string").as("term"),
            lit(null).cast("long").as("df"), col("n"), col("total")))
    // the three tables compact independently (each is its own managed
    // table; cross-table generation skew is content-neutral by
    // construction, see [[manageBm25]]) — overlap them ([[inParallel]],
    // guide §2.6)
    inParallel(
      () => sortedRebase(s"$path/postings", Seq("term"),
        groupBytes = groupBytes, pageRows = pageRows, partitions = partitions,
        graceGenerations = graceGenerations),
      () => rebaseShaped(s"$path/deltas", Seq("term"), aggDeltas,
        groupBytes, pageRows, partitions, graceGenerations),
      () => rebaseShaped(s"$path/champions", Seq("term"), bm25ChampionRows(_, c),
        groupBytes, pageRows, partitions, graceGenerations))
  }

  /** Incremental maintenance of a persisted posting index: the batch's
    * (doc_id, trigram) rows are exploded exactly as [[postingIndex]] does
    * and written as their own `batch_id` slice. Posting rows are PER-DOC
    * independent (no cross-doc state like the exact-Jaccard index's
    * global frequency order), so append ≡ rebuild holds trivially — the
    * easiest maintenance contract in the index family, value-tested by
    * x157 under x101's own full-corpus oracle. Same replay semantics as
    * [[minhashAppend]]: an explicit `batchId` replays as a dynamic-
    * overwrite no-op; without one the batch lands as an anonymous slice.
    */
  def postingAppend(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      batchId: Option[String] = None): Unit =
    // [[sortedTableAppend]] carries the whole write+seal+manifest-chase
    // protocol; this method only supplies the posting rows
    sortedTableAppend(postingRows(docs, idCol, textCol), path, Seq("tri"),
      groupBytes = groupBytes, pageRows = pageRows, partitions = 1,
      batchId = batchId)

  /** Build a single batch-partitioned sorted-stats table, born managed:
    * the rows land as the `base` slice of generation `g=000000000` under
    * `path`, then manifest v0 publishes. Any such table is a full
    * lifecycle index family with zero new protocol code (the r16 #6
    * manifest engine's point): append via [[sortedTableAppend]], compact
    * via [[sortedRebase]], retract slices via [[dropBatch]] and folded
    * batches via [[retractFolded]]. With `provenance` every row carries a
    * `src_batch` DATA column (`base` here, the batch id on appends) — the
    * row-level lineage [[retractFolded]] needs; it is set from the
    * table's first write or never. Refuses a `path` that already holds a
    * published table (see [[gen0Root]]).
    */
  def sortedTable(
      rows: DataFrame,
      path: String,
      sortCols: Seq[String],
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0,
      provenance: Boolean = false): Unit = {
    val conf = rows.sparkSession.sparkContext.hadoopConfiguration
    val root = gen0Root(path, conf)
    sortedStats(if (provenance) rows.withColumn("src_batch", lit("base")) else rows,
      root, sortCols, groupBytes = groupBytes, pageRows = pageRows,
      partitions = partitions, batchId = Some("base"))
    publishGen0(path, Map.empty, provenance, conf)
  }

  /** Append a row batch to a [[sortedTable]] — [[postingAppend]]'s
    * write+seal+manifest-chase protocol with the ROWS supplied by the
    * caller. Same replay semantics: an explicit `batchId` replays as a
    * dynamic-overwrite no-op; none lands under a fresh anonymous slice.
    * `provenance` must match the table's build (mixing provenanced and
    * bare files forks the parquet schema — the non-merged read would
    * drop the column for half the rows).
    */
  def sortedTableAppend(
      rows: DataFrame,
      path: String,
      sortCols: Seq[String],
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 1,
      batchId: Option[String] = None,
      provenance: Boolean = false): Unit = {
    val spark = rows.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    batchId.foreach(requireBatchId)
    val (v0, root) = currentGeneration(path, conf)
    // first-write-or-never, ENFORCED: mixed provenanced/bare files fork
    // the parquet schema (the non-merged read drops the column for half
    // the rows)
    val carries = hasProvenance(path, conf)
    require(provenance == carries,
      s"provenance mismatch at $path: the table " +
        (if (carries) "carries" else "lacks") +
        " src_batch — append with the same provenance setting")
    val bid = batchId.getOrElse("anon-" + java.util.UUID.randomUUID)
    val payload =
      if (provenance) rows.withColumn("src_batch", lit(bid)) else rows
    sortedStats(payload, root, sortCols,
      groupBytes = groupBytes, pageRows = pageRows, partitions = partitions,
      mode = if (batchId.isDefined) "overwrite" else "append",
      batchId = Some(bid), dynamicOverwrite = batchId.isDefined)
    chaseManifest(path, v0, root, bid,
      sortedTableFamily(sortCols, groupBytes, pageRows, partitions)(spark),
      conf)
  }

  /** Rebase a [[sortedTable]] (the table lives AT `path`, unlike the
    * minhash index's three subdirectories) back to one `base` slice of a
    * new generation: re-read, de-batch, range-sort, rewrite, publish.
    * O(table), no corpus rescan — the generic form of
    * [[minhashCompact]]'s per-table step for any sortedStats layout. A
    * `src_batch` provenance column (see [[sortedTableAppend]]) is
    * ordinary payload and survives the fold — that is what keeps
    * [[retractFolded]] possible after the batch's slice directory is gone.
    */
  def sortedRebase(
      path: String,
      sortCols: Seq[String],
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0,
      graceGenerations: Int = 1)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit =
    rebaseShaped(path, sortCols, identity,
      groupBytes, pageRows, partitions, graceGenerations)

  /** [[sortedRebase]] with a caller-supplied fold SHAPE applied to the
    * de-batched rows before the rewrite — the hook that lets a
    * merge-on-read table's compaction actually merge (sum the BM25 df
    * deltas, re-select the champion tier) instead of only concatenating
    * files. The shape must be content-preserving under the table's own
    * read semantics (probes may resolve either generation during the
    * grace window).
    */
  private def rebaseShaped(
      path: String,
      sortCols: Seq[String],
      shape: DataFrame => DataFrame,
      groupBytes: Long,
      pageRows: Int,
      partitions: Int,
      graceGenerations: Int)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (v, rootG) = currentGeneration(path, conf)
    managedCompact(path, v, rootG,
      sortedTableFamily(sortCols, groupBytes, pageRows, partitions,
        shape = shape),
      graceGenerations, conf)
  }

  /** Persisted MinHash ingest index: the three existing-side tables
    * [[graft.operators.Dedup.incrementalDedupStaged]] probes — normalized
    * fingerprints (`fp/`, sorted so the exact anti-join's scan prunes),
    * banded signature hashes (`banded/`, range-partitioned + sorted on the
    * bucket hash — the LSH candidate join's shuffle key), and shingle sets
    * (`shingles/`, sorted by doc id for the verify join). Built ONCE per
    * corpus release; each ingest batch then computes only its own
    * shard-side signatures — the corpus is never re-scanned per ingest,
    * which is the whole case for persisting the index (x101's
    * write-once / probe-many split, applied to dedup). The tables are
    * born managed under `g=000000000` + manifest v0; `_params` stays at
    * the index path.
    */
  def minhashIndex(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0,
      provenance: Boolean = false): Unit = {
    import graft.operators.Dedup
    // bands must tile the signature exactly: k/bands would truncate
    // silently, and bands > k makes rowsPerBand 0 — every band hash folds
    // zero coordinates to the constant 0 and the candidate join becomes a
    // full cross product (all docs share every band bucket)
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands)")
    // batch_id=base partition level: every table carries the batch
    // dimension from birth, so later [[minhashAppend]] calls can land each
    // ingest batch in its OWN partition and a replayed batch overwrites
    // exactly its slice (idempotent maintenance). Static overwrite here —
    // a rebuild must truncate every stale batch, not just "base".
    // provenance: a `src_batch` DATA column rides every row (fold-
    // surviving lineage for [[minhashRetractFolded]]) — from the FIRST
    // write or not at all, like [[sortedTableAppend]]'s contract; note a
    // provenanced fp fold de-duplicates per (fp, src_batch), which is
    // exactly what row-level retraction requires (a fingerprint shared
    // across batches must survive its co-batches' retraction).
    def prov(df: DataFrame): DataFrame =
      if (provenance) df.withColumn("src_batch", lit("base")) else df
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    val root = gen0Root(path, conf)
    // cache: the tokenize+shingle+minhash pipeline is the dominant build
    // cost and feeds BOTH the banded and shingles writes (the jaccardIndex
    // pattern below) — without the barrier each write re-scans the corpus
    val sigs = Dedup.minhashSignature(docs, idCol, textCol, k, shingleN).cache()
    // the three data tables land concurrently ([[inParallel]], guide
    // §2.6): fp derives straight from the corpus, banded/shingles share
    // the cached signature pass
    try {
      inParallel(
        () => sortedStats(prov(Dedup.exactFingerprints(docs, textCol)),
          s"$root/fp", Seq("fp"),
          groupBytes = groupBytes, pageRows = pageRows, partitions = partitions,
          batchId = Some("base")),
        () => sortedStats(prov(Dedup.bandedHashes(sigs, idCol, bands, k / bands)),
          s"$root/banded", Seq("bh"),
          groupBytes = groupBytes, pageRows = pageRows, partitions = partitions,
          batchId = Some("base")),
        () => sortedStats(prov(sigs.select(col(idCol), col("shingles"))),
          s"$root/shingles", Seq(idCol),
          groupBytes = groupBytes, pageRows = pageRows, partitions = partitions,
          batchId = Some("base")))
      // the banded table only matches probes computed with the SAME
      // signature family (k), band split, and shingle width — a probe
      // built with different parameters joins against a disjoint hash
      // space and every true near-dup silently classifies as "kept". The
      // path overload of incrementalDedupStaged reads these instead of
      // trusting the caller to repeat them.
      publishGen0(path, Map("k" -> k, "bands" -> bands, "shingle_n" -> shingleN),
        provenance, conf)
    } finally sigs.unpersist()
  }

  /** Incremental maintenance of a persisted MinHash index: compute the
    * batch's fingerprints / banded hashes / shingle sets with the
    * parameters recorded in the index's `_params` (a mismatched
    * k/bands/shingleN would join a disjoint hash space — the exact failure
    * the recorded parameters exist to prevent) and write them into the
    * three tables. This is the write half of the probe-then-admit ingest loop x115/x117 run:
    * probe a batch, keep the survivors, append the KEPT docs so the next
    * batch dedups against them — the existing corpus is never re-scanned
    * and the index is never rebuilt.
    *
    * Replay safety: pass `batchId` (the upstream ingest ledger's batch
    * identity, the same key StreamAnn's ledger pins) and the batch lands
    * in its own `batch_id=<id>` partition of each table via a dynamic
    * partition overwrite — a replayed batch overwrites exactly its own
    * slice, so append(b); append(b) ≡ append(b) (DedupSpec pins probe
    * equality). Distinct batches MUST carry distinct ids: reusing an id
    * for different rows silently replaces the earlier batch's slice.
    * Without `batchId` the batch lands under a fresh anonymous slice
    * (NOT idempotent — feed exactly-once batches or rebuild).
    *
    * Each batch writes ONE ranged+sorted file per table (per-file stats
    * still prune; a session-default shuffle width here would scatter a
    * small batch into hundreds of tiny files and erode the sorted
    * layout's pruning). File COUNT still grows linearly with batches —
    * that growth is one of the documented triggers for the periodic
    * rebuild, alongside range-overlap drift.
    */
  def minhashAppend(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      batchId: Option[String] = None,
      provenance: Boolean = false): Unit = {
    import graft.operators.Dedup
    val spark = docs.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    batchId.foreach(requireBatchId)
    // slices land in the CURRENT generation; the fix-up loop after the
    // writes handles a compact publishing concurrently
    val (v0, root) = currentGeneration(path, conf)
    val (k, bands, shingleN) = minhashParams(path)(spark)
    // first-write-or-never, ENFORCED (the sortedTableAppend contract):
    // mixed provenanced/bare slices would fork the parquet schema
    val carries = hasProvenance(path, conf)
    require(provenance == carries,
      s"provenance mismatch at $path: the index " +
        (if (carries) "carries" else "lacks") +
        " src_batch — build and append with the same provenance setting")
    // a batch without an explicit id still needs SOME batch_id
    // directory — draw a unique one (append-mode, so nothing is
    // overwritten; uniqueness keeps two anonymous batches from colliding)
    val bid = batchId.getOrElse("anon-" + java.util.UUID.randomUUID)
    val (mode, dyn) =
      if (batchId.isDefined) ("overwrite", true) else ("append", false)
    // provenance: fold-surviving row lineage for [[minhashRetractFolded]]
    // (same first-write-or-never contract as the build side)
    def prov(df: DataFrame): DataFrame =
      if (provenance) df.withColumn("src_batch", lit(bid)) else df
    // the three per-table writes overlap ([[inParallel]] — visibility of
    // a mid-append partial slice is unchanged: readers could already
    // observe any single table's files before the others' under the
    // sequential order, and the fold/compact protocol keys on the seal
    // markers written AFTER all three); slice width stays the pinned 1 —
    // an adaptive width was A/B'd and lost on the bounded batches this
    // path feeds (OPTIMIZATION_r18.md)
    val sigs = Dedup.minhashSignature(docs, idCol, textCol, k, shingleN).cache()
    try inParallel(
      () => sortedStats(prov(Dedup.exactFingerprints(docs, textCol)),
        s"$root/fp", Seq("fp"),
        groupBytes = groupBytes, pageRows = pageRows, partitions = 1,
        mode = mode, batchId = Some(bid), dynamicOverwrite = dyn),
      () => sortedStats(prov(Dedup.bandedHashes(sigs, idCol, bands, k / bands)),
        s"$root/banded", Seq("bh"),
        groupBytes = groupBytes, pageRows = pageRows, partitions = 1,
        mode = mode, batchId = Some(bid), dynamicOverwrite = dyn),
      () => sortedStats(prov(sigs.select(col(idCol), col("shingles"))),
        s"$root/shingles", Seq(idCol),
        groupBytes = groupBytes, pageRows = pageRows, partitions = 1,
        mode = mode, batchId = Some(bid), dynamicOverwrite = dyn))
    finally sigs.unpersist()
    // seal the slices (the fold skips unsealed = in-flight appends), then
    // chase the manifest — if a compact published a new generation while
    // this append was writing, copy the slices forward and re-check until
    // the version holds still (see the protocol note above
    // currentGeneration)
    chaseManifest(path, v0, root, bid,
      minhashFamily(groupBytes, pageRows, 1)(spark), conf)
  }

  /** Persisted EXACT-Jaccard corpus index — the no-miss dual of
    * [[minhashIndex]], consumed by
    * [[graft.operators.Dedup.exactJaccardPairsStaged]]. Three tables,
    * each the build-once corpus side of one probe stage:
    *   `freq`     (tok, f)            — the global frequency total order;
    *   `pref`     (id, ns, tok, rk)   — frequency-ordered prefix rows,
    *                                    range-sorted on `tok` so a probe's
    *                                    candidate join prunes row groups;
    *   `sets`     (id, s, ns)         — value-sorted shingle sets for the
    *                                    merge-walk verify, sorted on id.
    * Build is corpus-linear (one shingle pass + one count + one rank);
    * per-batch probes then touch the corpus only through equi-joins.
    *
    * The parameter file `_params` records (threshold, shingle_n): the
    * prefix rows are only lossless for probes at threshold ≥ the BUILD
    * threshold (a shorter build prefix has already dropped the candidate
    * rows a lower-threshold probe would need), so
    * [[graft.operators.Dedup.exactJaccardPairsStaged]]'s path overload
    * reads it and rejects a lower probe threshold instead of silently
    * missing pairs.
    */
  def jaccardIndex(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.5,
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0): Unit = {
    import graft.operators.Dedup
    val sorted = Dedup.sortedSets(
      docs.select(col(idCol),
        expr(s"graft_shingle_hashes(graft_token_hashes($textCol), $shingleN)")
          .as("shingles")),
      idCol, "shingles").cache()
    // try/finally like minhashIndex: a failed write (disk full, task
    // abort) must not leak the corpus-sized cached frame for the life of
    // the session (review r13)
    try {
      val freq = sorted.select(explode(col("s")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("f"))
      // all three tables land concurrently ([[inParallel]], guide §2.6):
      // pref consumes the freq FRAME (recomputed off the cached sets, one
      // cheap groupBy), not the freq table write, so nothing orders the
      // writes against each other
      inParallel(
        () => sortedStats(freq, s"$path/freq", Seq("tok"),
          groupBytes = groupBytes, pageRows = pageRows, partitions = partitions),
        // freqShuffleHash: at build scale the vocabulary outgrows broadcast
        // and AQE's fallback sort-merge join sorts the exploded corpus — the
        // round-10 sweep cliff (50→100× 15.1→73.4 s; pinned: 10.8→20.2 s).
        () => sortedStats(Dedup.freqOrderedPrefix(sorted, freq, idCol, threshold,
            freqShuffleHash = true),
          s"$path/pref", Seq("tok"),
          groupBytes = groupBytes, pageRows = pageRows, partitions = partitions),
        () => sortedStats(sorted, s"$path/sets", Seq(idCol),
          groupBytes = groupBytes, pageRows = pageRows, partitions = partitions))
      writeParams(path, Map("threshold" -> threshold, "shingle_n" -> shingleN),
        docs.sparkSession.sparkContext.hadoopConfiguration)
    } finally sorted.unpersist()
  }

  /** Persisted IVF ANN index, consumed by
    * [[graft.operators.SimilaritySearch.ivfTopKStaged]]. Two tables plus
    * parameters:
    *   `cent/`   (cent_id, centv)            — the (small) centroid set,
    *                                           deterministically sampled
    *                                           as id % centModulo == 0;
    *   `assign/` (corpus_id, corpusv) PARTITIONED BY cent_id — the
    *                                           inverted lists, one
    *                                           directory per cell so a
    *                                           probe's cell equi-join
    *                                           dynamic-partition-prunes
    *                                           to the probed cells only;
    *   `_params` cent_modulo, two_level      — how the centroids were
    *                                           drawn and which assignment
    *                                           built the lists, so a
    *                                           rebuild at the next corpus
    *                                           release is reproducible.
    * Build is corpus-linear (one broadcast-scored assignment pass); each
    * query batch then reads nprobe directories, not the corpus — the
    * write-once / probe-many split of x101/x117/x139, applied to ANN.
    * A production deployment swaps the modulo sample for
    * [[graft.operators.SimilaritySearch.kmeansIterate]] output; the index
    * contract (cell-partitioned lists + broadcast centroid table) is
    * identical. `assign` is born managed under `g=000000000` + manifest
    * v0; `cent` and `_params` stay at the index path (centroids are
    * frozen by the append contract — parameter identity, like the MinHash
    * parameters).
    */
  /** Centroid count above which [[ivfIndex]]'s default (auto) build
    * switches from the flat n·k assignment to the two-level n·√k coarse
    * pass. Below it the flat pass is exact and its k-term is trivial; at
    * 128 the coarse pass already scores ~11× fewer candidates per row,
    * and a corpus-proportional cell count (the 100 TB regime — measured
    * sweep exponent 0.73 flat vs 0.46 two-level, SCALING.md) crosses
    * this threshold long before the flat build becomes affordable-
    * looking-but-wrong. Callers pin `twoLevel = Some(false)` to A/B the
    * exact flat assignment deliberately.
    */
  val IvfAutoTwoLevelCentroids: Long = 128L

  def ivfIndex(
      corpus: DataFrame,
      path: String,
      centModulo: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      twoLevel: Option[Boolean] = None,
      provenance: Boolean = false): Unit = {
    import graft.operators.SimilaritySearch
    val spark = corpus.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = gen0Root(path, conf)
    // modulo sampling CAN select zero rows (offset/odd id lattices, or a
    // non-numeric idCol where `id % m` is NULL) — an index with an empty
    // centroid table would be written without error and every later
    // probe would return nothing forever (review r13; semDedupScaled
    // carries the same min-id fallback for the same reason). One
    // lowest-id centroid is the degenerate-but-correct single-cell index.
    // The guard checks the just-WRITTEN one-file table instead of running
    // a separate `isEmpty` over the corpus first (r19: that probe was a
    // whole corpus-scan job per build, on top of the write's own scan);
    // the empty case pays a second tiny write, the common case pays none.
    def writeCents(rows: DataFrame): Unit =
      rows.select(col(idCol).as("cent_id"), col(vecCol).as("centv"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/cent")
    writeCents(corpus.where(col(idCol) % centModulo === 0))
    // twoLevel swaps the n·k flat assignment for the n·√k coarse pass
    // (SimilaritySearch.invertedListsTwoLevel) — approximate at coarse
    // cell boundaries, mandatory once cell COUNT is corpus-proportional.
    // The DEFAULT (None) auto-selects by counting the just-written
    // centroid table (a one-file read, not a corpus scan): a naive
    // 100 TB user gets the scale-safe path without knowing the knob
    // exists (VERDICT r12 watch-item #1); the persisted layout and the
    // probe are identical either way, and _params records the RESOLVED
    // choice so a rebuild is reproducible.
    // the assignment pass reads the centroids BACK from the just-written
    // one-file table instead of re-deriving them with a second full
    // corpus scan+filter (review r13: at the 100 TB regime that scan
    // doubles the dominant build I/O)
    var centsBack = spark.read.parquet(s"$path/cent")
    if (centsBack.isEmpty) { // empty sample: degrade to one lowest-id cell
      writeCents(corpus.orderBy(col(idCol)).limit(1))
      centsBack = spark.read.parquet(s"$path/cent")
    }
    val useTwoLevel = twoLevel.getOrElse(
      centsBack.count() > IvfAutoTwoLevelCentroids)
    val centsFor = centsBack
      .select(col("cent_id").as(idCol), col("centv").as(vecCol))
    // (a fanOutScan on the assignment input was A/B'd here in r19 —
    // BuildTimer ivf median 2.13 → 2.22 s, i.e. the extra round-robin
    // shuffle cancels the parallelism at fixture scale where the scoring
    // kernel is ~0.5 s — and reverted, the r18 S5 discipline)
    val lists =
      if (useTwoLevel) SimilaritySearch.invertedListsTwoLevel(corpus, centsFor, idCol, vecCol)
      else SimilaritySearch.invertedLists(corpus, centsFor, idCol, vecCol)
    // batch_id as the SECOND partition level: probes prune on cent_id
    // exactly as before (outer directory, dynamic partition pruning
    // untouched), while [[ivfAppend]] gains an idempotent slice to
    // overwrite per ingest batch. Static overwrite — a rebuild truncates
    // every stale batch directory.
    // provenance: fold-surviving row lineage for [[ivfRetractFolded]] —
    // from the FIRST write or not at all (mixed provenanced/bare files
    // would fork the parquet schema, the corpusn hazard below)
    val listed =
      if (provenance) lists.withColumn("src_batch", lit("base")) else lists
    // one hash shuffle on cent_id co-locates each cell in one task, so a
    // cell directory lands as ONE file instead of one per upstream
    // partition (cells × partitions tiny files otherwise — the exact
    // fragmentation [[ivfFamily]]'s fold already removes on compact;
    // guide §6 "small files hurt twice"). Same trade as the fold: a hot
    // cell serializes into one write task, which compact accepts too.
    listed.withColumn("batch_id", lit("base"))
      .repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id", "batch_id")
      .parquet(s"$root/assign")
    publishGen0(path, Map("cent_modulo" -> centModulo, "two_level" -> useTwoLevel),
      provenance, conf)
  }

  /** Incremental maintenance of a persisted IVF index: assign ONLY the
    * new batch against the EXISTING centroid table (read back from the
    * index, one small file — never a corpus rescan) and append its rows
    * into the cell-partitioned inverted lists. Existing cells gain files,
    * untouched cells keep theirs, and the probe path
    * ([[graft.operators.SimilaritySearch.ivfTopKStaged]]) is oblivious —
    * dynamic partition pruning works identically on the grown cells.
    *
    * Centroids are deliberately NOT retrained: an append is then exactly
    * equivalent to a full rebuild over base ∪ batch with the same
    * centroid table (per-row assignment is independent), which is what
    * makes incremental maintenance value-testable (x152's oracle replays
    * the full-corpus assignment and compares per-cell counts; IvfIndexSpec
    * pins probe-result equality against a rebuild). Retraining cadence is
    * a corpus-release decision — rebuild via [[ivfIndex]] when cell-size
    * skew from drift warrants it (x131's balance audit is the monitor).
    *
    * The assignment pass reuses the build's RESOLVED flat/two-level
    * choice from the index's `_params`, so append and build shard the
    * same way.
    *
    * Replay safety: pass `batchId` and the batch writes `(cent_id,
    * batch_id)` leaf partitions via a dynamic partition overwrite — a
    * replayed batch replaces exactly its own slices (assignment is
    * deterministic against frozen centroids, so the replacement is
    * byte-identical), making append(b); append(b) ≡ append(b)
    * (IvfIndexSpec pins probe equality). Distinct batches MUST carry
    * distinct ids. Without `batchId` the batch lands under a fresh
    * anonymous slice (NOT idempotent — feed exactly-once batches).
    */
  def ivfAppend(
      batch: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      batchId: Option[String] = None,
      provenance: Boolean = false): Unit = {
    import graft.operators.SimilaritySearch
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    batchId.foreach(requireBatchId)
    // slices land in the CURRENT generation's assign table; the
    // post-write manifest chase below handles a compact publishing
    // concurrently (MinHash protocol)
    val (v0, root) = currentGeneration(path, conf)
    val assign = s"$root/assign"
    val centsFor = spark.read.parquet(s"$path/cent")
      .select(col("cent_id").as(idCol), col("centv").as(vecCol))
    val lists =
      if (params(path, conf)("two_level").toBoolean)
        SimilaritySearch.invertedListsTwoLevel(batch, centsFor, idCol, vecCol)
      else SimilaritySearch.invertedLists(batch, centsFor, idCol, vecCol)
    // provenance must MATCH the table (first-write-or-never): a bare
    // append into a provenanced assign tree (or vice versa) forks the
    // parquet schema — the non-merged read would drop the column for
    // half the rows
    val carries = hasProvenance(path, conf)
    require(provenance == carries,
      s"provenance mismatch at $path: the assign table " +
        (if (carries) "carries" else "lacks") +
        " src_batch — build with the same provenance setting")
    val bid = batchId.getOrElse("anon-" + java.util.UUID.randomUUID)
    // NOT cell-colocated like the build/fold: an append batch is bounded
    // (few files per touched cell already) and the extra hash shuffle per
    // ingest batch measured as a net loss on the r18 A/B windows
    val sliced = (if (provenance) lists.withColumn("src_batch", lit(bid)) else lists)
      .withColumn("batch_id", lit(bid)).write.partitionBy("cent_id", "batch_id")
    if (batchId.isDefined)
      sliced.mode("overwrite").option("partitionOverwriteMode", "dynamic").parquet(assign)
    else sliced.mode("append").parquet(assign)
    // seal, then chase the manifest — the MinHash append's fix-up
    // protocol with the cell-level slice dirs
    chaseManifest(path, v0, root, bid, ivfFamily()(spark), conf)
  }

  /** Retract one ingest batch from a batch_id-partitioned index: delete
    * its `batch_id=<id>` partition directories under every index table
    * (every table of the index, every retained generation)
    * — the Hive DROP PARTITION of this layout, and the recovery path when
    * a bad batch (poisoned, mislabeled, legally retracted) must leave the
    * corpus. O(files in the batch), no rewrite of any other generation;
    * probes are oblivious because partition discovery simply no longer
    * sees the rows (x154 value-tests retract-after-append ≡ never
    * appended). Only batches written with an explicit `batchId` are
    * addressable; the base generation is refused — retracting it would
    * silently empty the index, rebuild instead.
    */
  def dropBatch(path: String, batchId: String)(
      implicit spark: org.apache.spark.sql.SparkSession): Int = {
    require(batchId != "base",
      "refuse to retract the base generation — rebuild the index instead")
    // the id is spliced into a Hadoop GLOB below: a metacharacter id
    // ("*", "{a,b}", "[0-9]") would match OTHER generations — including
    // base — and delete them, bypassing the guard above (review r15).
    // Same charset contract as requireBatchId on the append side.
    requireBatchId(batchId)
    val conf = spark.sparkContext.hadoopConfiguration
    def glob(pattern: String): Array[org.apache.hadoop.fs.FileStatus] = {
      val g = new org.apache.hadoop.fs.Path(pattern)
      Option(g.getFileSystem(conf).globStatus(g)).getOrElse(Array.empty)
    }
    // a managed table/index at path, or an index of managed tables one
    // level down (the BM25 trio)
    require(Seq(path, s"$path/*").exists(p => glob(s"$p/$ManifestDirName/v*").nonEmpty),
      s"no index manifest at $path (nor one level down) — build the index " +
        "with this library first")
    // three depths: a single sorted table's slices under its generation
    // dirs (g=N/batch_id=X), the minhash and BM25 tables one level deeper
    // (g=N/fp/... and postings/g=N/...), the IVF cell partitions two
    // deeper. Retraction hits every retained generation, which is
    // correct: a retracted batch must vanish from the grace generation's
    // readers too
    Seq(s"$path/*/batch_id=$batchId", s"$path/*/*/batch_id=$batchId",
        s"$path/*/*/*/batch_id=$batchId")
      .map { pattern =>
        val hits = glob(pattern)
        hits.foreach(h => h.getPath.getFileSystem(conf).delete(h.getPath, true))
        hits.length
      }.sum
  }

  /** Compact a batch-partitioned MinHash index back to a single `base`
    * generation: every table is re-read, de-batched, range-sorted and
    * rewritten as one tight layout. Appends keep an index CORRECT forever
    * but erode its physics — one file per batch per table (task-startup
    * and footer cost grow with batch count) and overlapping sort ranges
    * across generations (per-file pruning stays sound but prunes less).
    * This is the periodic rebase that restores both without recomputing
    * any signature: unlike a [[minhashIndex]] rebuild there is NO corpus
    * scan, no tokenize/shingle/minhash pass — just an index-sized
    * shuffle+rewrite, so it costs O(index), not O(corpus). Probe results
    * are invariant (x155 pins that through the driver oracle); `fp` is
    * deduplicated in passing (duplicate fingerprints across generations
    * are probe-neutral through the semi-join but pure dead weight).
    *
    * The fold writes a NEW immutable generation and publishes its
    * manifest pointer, so the streaming admit loop
    * ([[graft.streaming.StreamDedup.ingestAdmitLoop]]) keeps running
    * through it: each stream's newest slice stays live through the fold
    * (a pending at-least-once replay of the last batch still finds its
    * own slice to self-exclude), and slices landing mid-compact reach
    * the new generation via the compactor's post-publish re-list or the
    * writer's own fix-up — ManagedCompactionSpec runs admit batches
    * across a concurrent compact and pins probe/ledger invariance.
    */
  def minhashCompact(
      path: String,
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0,
      graceGenerations: Int = 1)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (v, rootG) = currentGeneration(path, conf)
    // the snapshot is taken ONCE across all three tables (inside the
    // engine, via the family's union sliceStates) so the fold/live split
    // is consistent per batch — a batch folded in fp but live in banded
    // would half-break its replay self-exclusion
    managedCompact(path, v, rootG,
      minhashFamily(groupBytes, pageRows, partitions),
      graceGenerations, conf)
  }

  // ---- manifest-generation index layout (VERDICT r15 #5) --------------
  //
  // Every index family with an append/compact lifecycle has ONE on-disk
  // layout, from its build on: table generations are IMMUTABLE sibling
  // directories (`<path>/g=NNNNNNNNN/{fp,banded,shingles}`) and the only
  // mutation is publishing a new pointer file (`<path>/_manifest/
  // vNNNNNNNNN`, create-once; highest version wins). No shared table
  // path is ever renamed or briefly absent — on object stores a
  // directory rename is a copy — so a compaction never races a live
  // probe or admit loop. Readers resolve the pointer once per probe and
  // read an immutable root; the previous generation is retained as grace
  // for one compaction cycle, so in-flight readers finish on the root
  // they resolved. At 100 TB this is the catalog/manifest pattern
  // (Iceberg-style).
  //
  // Build/writer/compactor protocol (no locks, single compactor
  // assumed):
  //   - a BUILD writes generation 0 (`g=000000000`), records its fixed
  //     parameters in `<path>/_params` ([[writeParams]]) and publishes v0
  //     as its LAST step, so "a manifest exists" means "the index is
  //     complete". A build refuses a path that already holds a manifest
  //     (see [[gen0Root]]); one that crashed before its publish left only
  //     an unpublished `g=000000000`, which the re-run clears.
  //   - an APPEND resolves the current generation, writes its slices
  //     there, SEALS each slice (a `_SEALED` marker file — the fold
  //     never touches unsealed, i.e. in-flight, slices), then re-reads
  //     the manifest: if a compact published meanwhile, it copies its
  //     own sealed slices into the new generation and re-checks, until
  //     the version is stable.
  //   - a COMPACT snapshots the sealed slices, folds them into the new
  //     generation's `base` EXCEPT each stream's newest slice (kept as a
  //     live slice so a pending at-least-once replay of that batch still
  //     finds its own partition to self-exclude — fold it and the replay
  //     would classify its docs against their own rebased rows), copies
  //     the live slices over, publishes the pointer, then re-lists the
  //     old generation once: any sealed slice that appeared after the
  //     snapshot is copied too. Every completed slice thus reaches the
  //     new generation — by the compactor's re-list if it sealed before
  //     that, by the writer's own fix-up otherwise (the writer's check
  //     happens after its seal, so one of the two always observes the
  //     other's progress).
  //   - an UNSEALED slice at fold time belongs to an append that has not
  //     returned; if that append crashed mid-write its batch was never
  //     checkpointed upstream, the engine replays it, and the replay's
  //     dynamic overwrite rewrites the slice wherever the CURRENT
  //     generation is — the stale partial stays in the old generation
  //     and is deleted with it.

  private val ManifestDirName = "_manifest"
  private val SealName = "_SEALED"
  private def genName(v: Long): String = f"g=$v%09d"
  /** The pointer file of manifest version `v`. */
  private def pointerFile(path: String, v: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(f"$path/$ManifestDirName/v$v%09d")

  /** Highest published (version, generation root) of the table or index
    * at `path`, or None when nothing is published there yet — the lookup
    * only the index builds use, to refuse a published target.
    */
  private def findGeneration(path: String,
      conf: org.apache.hadoop.conf.Configuration): Option[(Long, String)] = {
    val md = new org.apache.hadoop.fs.Path(s"$path/$ManifestDirName")
    val fs = md.getFileSystem(conf)
    if (!fs.exists(md)) None
    else {
      val vs = fs.listStatus(md).map(_.getPath.getName)
        .filter(_.matches("v\\d{9}")).map(_.drop(1).toLong)
      if (vs.isEmpty) None
      else {
        val v = vs.max
        generationAt(path, v, conf).map(g => (v, g))
      }
    }
  }

  /** Current (version, generation root) of the table or index at `path`.
    * Throws `IllegalArgumentException` naming the path when it holds no
    * published manifest — every lifecycle call resolves through this, so
    * a hand-made or half-built directory is refused before anything
    * reads or writes it.
    */
  def currentGeneration(path: String,
      conf: org.apache.hadoop.conf.Configuration): (Long, String) =
    findGeneration(path, conf).getOrElse(throw new IllegalArgumentException(
      s"no index manifest at $path — build the index with this library " +
        "first (a build publishes its manifest as its last step)"))

  /** Resolve the directory the index's TABLES live under: the current
    * generation. Probes resolve ONCE and read all tables from the same
    * immutable root — `_params` stays at the index path (it is parameter
    * identity, not generation state).
    */
  def indexRoot(path: String)(
      implicit spark: org.apache.spark.sql.SparkSession): String =
    currentGeneration(path, spark.sparkContext.hadoopConfiguration)._2

  /** Generation-0 root an index build writes into. Refuses a `path` that
    * already holds a published manifest: rewriting only the table dirs
    * would leave readers on the old generation (and an IVF `cent` paired
    * with the old lists) — build into a new path instead. An unpublished
    * `g=000000000` is the debris of a build that crashed before its
    * publish; it is cleared so the re-run starts clean.
    */
  private def gen0Root(path: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    require(findGeneration(path, conf).isEmpty,
      s"refuse to build into $path: it already holds a published index " +
        "(_manifest) — build into a new path")
    val root = s"$path/${genName(0L)}"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(conf).delete(p, true)
    root
  }

  /** An index build's last steps: record its parameters, with the
    * first-write-or-never `provenance` fact every append and retraction
    * checks ([[writeParams]]), then publish manifest v0 over
    * `g=000000000`.
    */
  private def publishGen0(path: String, params: Map[String, Any],
      provenance: Boolean, conf: org.apache.hadoop.conf.Configuration): Unit = {
    writeParams(path, params + ("provenance" -> provenance), conf)
    publishGeneration(path, 0L, genName(0L), conf)
  }

  /** Publish manifest version `v` pointing at generation dir `gen`
    * (name relative to the index path). Create-once: two racing
    * compactors cannot both win a version.
    */
  private def publishGeneration(path: String, v: Long, gen: String,
      conf: org.apache.hadoop.conf.Configuration): Unit =
    writeText(pointerFile(path, v), gen, overwrite = false, conf)

  /** Write `text` as the whole of file `p`; `overwrite = false` fails when
    * `p` exists (create-once). The one write path of the small text files
    * the layout keeps: manifest pointers, fold sets, parameters.
    */
  private def writeText(p: org.apache.hadoop.fs.Path, text: String,
      overwrite: Boolean, conf: org.apache.hadoop.conf.Configuration): Unit = {
    val out = p.getFileSystem(conf).create(p, overwrite)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The whole of file `p`, or None when it does not exist. */
  private def readText(p: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Option[String] = {
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  private val ParamsName = "_params"

  /** Record an index's fixed build parameters at `<path>/_params`, one
    * `key=value` line each. Written after the data tables commit and
    * before the publish, to a temporary name renamed into place, so a
    * reader never finds parameters over a partial index. A `_params` left
    * by a crashed build is replaced. Read back by [[params]] — no Spark
    * job on either side.
    */
  private[graft] def writeParams(path: String, params: Map[String, Any],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$ParamsName")
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.$ParamsName-${java.util.UUID.randomUUID}")
    writeText(tmp, params.toSeq.map { case (k, v) => s"$k=$v\n" }.sorted.mkString,
      overwrite = true, conf)
    val fs = p.getFileSystem(conf)
    fs.delete(p, false)
    require(fs.rename(tmp, p), s"could not publish index parameters at $p")
  }

  /** The fixed build parameters of the index at `path` ([[writeParams]]).
    * Throws `IllegalArgumentException` naming the path when it has none.
    * Callers resolve the manifest first, so an unpublished directory is
    * refused by [[currentGeneration]]'s message.
    */
  private[graft] def params(path: String,
      conf: org.apache.hadoop.conf.Configuration): Map[String, String] =
    readText(new org.apache.hadoop.fs.Path(s"$path/$ParamsName"), conf)
      .getOrElse(throw new IllegalArgumentException(
        s"no index parameters ($ParamsName) at $path — build the index " +
          "with this library first"))
      .linesIterator.filter(_.nonEmpty).map { l =>
        val i = l.indexOf('=')
        l.take(i) -> l.drop(i + 1)
      }.toMap

  /** Whether the managed table or index at `path` carries `src_batch`
    * provenance — fixed by its build (first write or never).
    */
  private def hasProvenance(path: String,
      conf: org.apache.hadoop.conf.Configuration): Boolean =
    params(path, conf)("provenance").toBoolean

  /** The champion tier width C a BM25 index was built with. */
  private[graft] def bm25Champions(path: String)(
      implicit spark: org.apache.spark.sql.SparkSession): Int =
    params(path, spark.sparkContext.hadoopConfiguration)("champions").toInt

  /** A MinHash index's build (k, bands, shingle_n). */
  private[graft] def minhashParams(path: String)(
      implicit spark: org.apache.spark.sql.SparkSession): (Int, Int, Int) = {
    val m = params(path, spark.sparkContext.hadoopConfiguration)
    (m("k").toInt, m("bands").toInt, m("shingle_n").toInt)
  }

  /** An exact-Jaccard index's build (threshold, shingle_n). */
  private[graft] def jaccardParams(path: String)(
      implicit spark: org.apache.spark.sql.SparkSession): (Double, Int) = {
    val m = params(path, spark.sparkContext.hadoopConfiguration)
    (m("threshold").toDouble, m("shingle_n").toInt)
  }

  /** Batch slice directories (`batch_id=X`) of one table; (id, sealed). */
  private def sliceStates(tblPath: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Boolean)] = {
    val p = new org.apache.hadoop.fs.Path(tblPath)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map { s =>
        val id = s.getPath.getName.stripPrefix("batch_id=")
        id -> fs.exists(new org.apache.hadoop.fs.Path(s.getPath, SealName))
      }
  }

  /** Mark a just-written slice of ONE sorted-stats table complete (the
    * fold skips unsealed slices — they are in-flight appends).
    */
  private def sealSlice(tblRoot: String, bid: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$tblRoot/batch_id=$bid")
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) fs.createNewFile(new org.apache.hadoop.fs.Path(dir, SealName))
  }

  /** Mark a just-written slice complete in all three MinHash tables. */
  private def sealMinhashSlices(root: String, bid: String,
      conf: org.apache.hadoop.conf.Configuration): Unit =
    Seq("fp", "banded", "shingles").foreach(tbl =>
      sealSlice(s"$root/$tbl", bid, conf))

  /** (file name, length) fingerprint of a slice dir — file contents are
    * write-once (Spark emits uniquely-named part files and a dynamic
    * overwrite replaces whole files), so an unchanged fingerprint across
    * a copy proves no rewrite intervened and the copy is consistent.
    */
  private def sliceFingerprint(dir: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem): Seq[(String, Long)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(s => s.getPath.getName -> s.getLen)
      .sortBy(_._1)

  /** COMPACTOR-side slice copy into a new generation: copies only a
    * SEALED slice, and verifies the source's fingerprint is unchanged
    * across the copy — a live replay's dynamic overwrite mid-copy would
    * otherwise install a torn copy that the slower checks never repair
    * (review r16). Unstable or unsealed sources are retried briefly and
    * then either skipped (`required = false`: a slice being rewritten
    * right now belongs to a writer whose own post-publish fix-up will
    * place it) or fatal (`required = true`: the pre-publish live-tail
    * copy, where the new generation MUST carry the slice before readers
    * can resolve it). Copy, never move: the source generation stays
    * complete for its grace-period readers.
    */
  private def copySliceConsistent(fromTbl: String, toTbl: String, bid: String,
      conf: org.apache.hadoop.conf.Configuration, required: Boolean): Unit = {
    val src = new org.apache.hadoop.fs.Path(s"$fromTbl/batch_id=$bid")
    val dst = new org.apache.hadoop.fs.Path(s"$toTbl/batch_id=$bid")
    val fs = src.getFileSystem(conf)
    if (fs.exists(dst)) return
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      val before = sliceFingerprint(src, fs)
      val isSealed = before.exists(_._1 == SealName)
      if (isSealed) {
        val tmp = new org.apache.hadoop.fs.Path(
          s"$toTbl/.copy-$bid-${java.util.UUID.randomUUID}")
        fs.mkdirs(new org.apache.hadoop.fs.Path(toTbl))
        // hardlink fast path ([[copyTree]]): a slice's files are
        // write-once, and a replay REPLACES files (new inodes) rather
        // than mutating them — the fingerprint re-check below still
        // detects exactly the races it detected for the stream copy
        copyTree(fs, src, tmp, conf)
        if (sliceFingerprint(src, fs) == before) {
          if (!fs.rename(tmp, dst)) fs.delete(tmp, true) // lost a race: done
          return
        }
        fs.delete(tmp, true) // source changed mid-copy: torn — retry
      }
      try Thread.sleep(200L * attempt) catch { case _: InterruptedException => }
    }
    if (required) sys.error(
      s"compact could not take a consistent copy of live slice $bid from " +
        s"$fromTbl — a replay kept rewriting it; re-run the compact")
  }

  /** WRITER-side slice copy (the manifest-chase fix-up): the writer OWNS
    * its slice and its copy is authoritative — any existing destination
    * (e.g. the compactor's pre-publish copy of a slice this writer has
    * since rewritten) is replaced, retrying past a racing rename.
    */
  private def copySliceForce(fromTbl: String, toTbl: String, bid: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val src = new org.apache.hadoop.fs.Path(s"$fromTbl/batch_id=$bid")
    val dst = new org.apache.hadoop.fs.Path(s"$toTbl/batch_id=$bid")
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src)) return
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      fs.delete(dst, true)
      val tmp = new org.apache.hadoop.fs.Path(
        s"$toTbl/.copy-$bid-${java.util.UUID.randomUUID}")
      fs.mkdirs(new org.apache.hadoop.fs.Path(toTbl))
      copyTree(fs, src, tmp, conf) // hardlink fast path, see copyTree
      if (fs.rename(tmp, dst)) return
      fs.delete(tmp, true)
    }
    sys.error(s"writer fix-up could not install slice $bid into $toTbl")
  }

  /** The batch ids a generation's fold absorbed into `base`, recorded at
    * `<genRoot>/_FOLDED` BEFORE the generation publishes — the writer's
    * fix-up consults it so a delayed manifest check can never re-copy a
    * slice whose rows the fold already carries (duplicate rows in
    * banded/shingles would inflate candidate pairs — review r16).
    */
  private def writeFolded(genRoot: String, ids: Set[String],
      conf: org.apache.hadoop.conf.Configuration): Unit =
    writeText(new org.apache.hadoop.fs.Path(s"$genRoot/_FOLDED"),
      ids.toSeq.sorted.mkString("\n"), overwrite = true, conf)

  private def readFolded(genRoot: String,
      conf: org.apache.hadoop.conf.Configuration): Set[String] =
    readText(new org.apache.hadoop.fs.Path(s"$genRoot/_FOLDED"), conf)
      .fold(Set.empty[String])(
        _.linesIterator.map(_.trim).filter(_.nonEmpty).toSet)

  /** Generation root recorded at one SPECIFIC manifest version, if that
    * pointer file still exists (grace pruning retires old ones).
    */
  private def generationAt(path: String, v: Long,
      conf: org.apache.hadoop.conf.Configuration): Option[String] =
    readText(pointerFile(path, v), conf).map(gen => s"$path/${gen.trim}")

  /** Union of `_FOLDED` across every generation published after `vFrom`
    * up to and including `vTo`. A generation's `_FOLDED` is NOT
    * transitive: v+2 records the slice ids its own fold absorbed FROM
    * v+1 — a slice folded at v+1 lives on inside v+2's `base` but is
    * absent from v+2's `_FOLDED`. A writer whose manifest-chase skipped
    * a version (two rebases published between its seal and its first
    * re-read) must therefore union the intermediate fold sets, or it
    * re-installs a slice whose rows base already carries and duplicates
    * them (ADVICE r16). A pruned intermediate pointer contributes
    * nothing — within the grace contract (an append spans at most
    * `graceGenerations` cycles) the intermediates are still present.
    */
  private def foldedSince(path: String, vFrom: Long, vTo: Long,
      conf: org.apache.hadoop.conf.Configuration): Set[String] =
    (vFrom + 1 to vTo).iterator.flatMap(v =>
      generationAt(path, v, conf).fold(Set.empty[String])(readFolded(_, conf))
    ).toSet

  // ---- manifest engine (VERDICT r16 #6) -------------------------------
  //
  // The version/pointer/sealed-slice/folded-set/grace mechanics are ONE
  // protocol; only the slice GEOMETRY differs per index family (one
  // table at the generation root, the MinHash trio one level down, the
  // IVF cell tree two down). The geometry is a small adapter; the
  // protocol below lands once, so the next family — and the next bug
  // fix — touches one code path instead of three.

  /** Per-family slice geometry: how to enumerate, seal, copy, and fold
    * batch slices under one generation root. Implementations must be
    * idempotent per operation (the protocol re-applies them on races).
    */
  private trait ManifestFamily {
    /** (batch id, sealed) across the family's slice dirs under `genRoot`
      * — a batch may surface once per table/cell; the engine reads the
      * result set-wise (sealed anywhere ⇒ the batch's write returned).
      */
    def sliceStates(genRoot: String,
        conf: org.apache.hadoop.conf.Configuration): Seq[(String, Boolean)]
    /** Mark batch `bid` complete in every table/cell under `genRoot`. */
    def sealSlices(genRoot: String, bid: String,
        conf: org.apache.hadoop.conf.Configuration): Unit
    /** Compactor-side consistent copy of slice `bid` (fingerprint-stable,
      * sealed-only — see [[copySliceConsistent]]).
      */
    def copySlice(oldGen: String, newGen: String, bid: String,
        conf: org.apache.hadoop.conf.Configuration, required: Boolean): Unit
    /** Writer-side authoritative copy of the writer's OWN slice `bid`. */
    def forceCopySlice(oldGen: String, newGen: String, bid: String,
        conf: org.apache.hadoop.conf.Configuration): Unit
    /** Rewrite `foldIds`' rows from `oldGen` into `newGen`'s `base`. The
      * folds select slices with `col("batch_id").isin(ids)`: `batch_id` is
      * a partition column, so that filter prunes directories before the
      * scan and never reaches generated code (a BM25 compact folding 4
      * slices after one folding 2 compiles 0 classes), and `isin` keeps
      * the type coercion an id column inferred as integers would need.
      */
    def fold(oldGen: String, newGen: String, foldIds: Set[String]): Unit
  }

  /** The COMPACT side of the manifest protocol (see the block comment
    * above [[currentGeneration]]): seal snapshot → live-tail split →
    * fold → pre-publish live copy (required) → `_FOLDED` → pointer
    * publish → post-publish re-list (slices sealed after the snapshot)
    * → grace prune. Neither copy carries a slice in `exclude` into the
    * new generation (a retraction's own batch, [[retractRefold]]).
    */
  private def managedCompact(path: String, v: Long, rootG: String,
      fam: ManifestFamily, graceGenerations: Int,
      conf: org.apache.hadoop.conf.Configuration,
      exclude: Set[String] = Set.empty): Unit = {
    val sealedIds = fam.sliceStates(rootG, conf)
      .collect { case (id, true) => id }.toSet - "base"
    val live = liveTail(sealedIds)
    val foldIds = sealedIds -- live + "base"
    val newGen = genName(v + 1)
    val newRoot = s"$path/$newGen"
    fam.fold(rootG, newRoot, foldIds)
    (live -- exclude).foreach(b =>
      fam.copySlice(rootG, newRoot, b, conf, required = true))
    writeFolded(newRoot, foldIds, conf)
    publishGeneration(path, v + 1, newGen, conf)
    (fam.sliceStates(rootG, conf)
      .collect { case (id, true) => id }.toSet -- foldIds -- live -- exclude)
      .foreach(b => fam.copySlice(rootG, newRoot, b, conf, required = false))
    pruneGenerations(path, v, graceGenerations, conf)
  }

  /** The WRITER side: seal the just-written slice, then chase the
    * manifest — if a compact published while the write was in flight,
    * copy the slice forward (unless a fold between the resolved and
    * current versions already absorbed it — the TRANSITIVE check,
    * ADVICE r16) and re-check until the version holds still.
    */
  private def chaseManifest(path: String, v0: Long, root0: String,
      bid: String, fam: ManifestFamily,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    fam.sealSlices(root0, bid, conf)
    var prev = (v0, root0)
    var cur = currentGeneration(path, conf)
    while (cur._1 != prev._1) {
      if (!foldedSince(path, prev._1, cur._1, conf).contains(bid))
        fam.forceCopySlice(prev._2, cur._2, bid, conf)
      prev = cur
      cur = currentGeneration(path, conf)
    }
  }

  /** The MinHash trio's geometry: three sorted-stats tables one level
    * under the generation root, slices as `batch_id=X` dirs per table.
    */
  private def minhashFamily(groupBytes: Long, pageRows: Int, partitions: Int,
      foldFilter: Column = lit(true))(
      implicit spark: org.apache.spark.sql.SparkSession): ManifestFamily =
    new ManifestFamily {
      private val tables = Seq("fp", "banded", "shingles")
      def sliceStates(g: String, conf: org.apache.hadoop.conf.Configuration) =
        tables.flatMap(t => Layouts.sliceStates(s"$g/$t", conf))
      def sealSlices(g: String, bid: String,
          conf: org.apache.hadoop.conf.Configuration): Unit =
        sealMinhashSlices(g, bid, conf)
      def copySlice(o: String, n: String, bid: String,
          conf: org.apache.hadoop.conf.Configuration, required: Boolean): Unit =
        tables.foreach(t =>
          copySliceConsistent(s"$o/$t", s"$n/$t", bid, conf, required))
      def forceCopySlice(o: String, n: String, bid: String,
          conf: org.apache.hadoop.conf.Configuration): Unit =
        tables.foreach(t => copySliceForce(s"$o/$t", s"$n/$t", bid, conf))
      def fold(o: String, n: String, ids: Set[String]): Unit =
        // the three per-table fold rewrites are independent (disjoint
        // inputs and outputs) — overlap them ([[inParallel]], guide §2.6)
        inParallel(tables.map(tbl => () => {
          val flat = spark.read.parquet(s"$o/$tbl")
            .where(col("batch_id").isin(ids.toSeq: _*))
            .where(foldFilter).drop("batch_id")
          // sort keys are structural per table (the build's own choices):
          // fp on the fingerprint, banded on the bucket hash, shingles on
          // the id column — whatever the caller named it, the non-payload
          // column left over; fp deduplicates in passing (cross-
          // generation duplicate fingerprints are probe-neutral through
          // the semi-join but pure dead weight)
          val (shaped, sortCols) = tbl match {
            case "fp"     => (flat.distinct(), Seq("fp"))
            case "banded" => (flat, Seq("bh"))
            case _        =>
              (flat, flat.columns.filterNot(_ == "shingles").take(1).toSeq)
          }
          sortedStats(shaped, s"$n/$tbl", sortCols,
            groupBytes = groupBytes, pageRows = pageRows,
            partitions = partitions, batchId = Some("base"))
        }): _*)
    }

  /** A single sorted-stats table living AT the generation root (the
    * posting index's geometry). `shape` transforms the de-batched fold
    * rows before the rewrite (identity for row-preserving tables; the
    * BM25 deltas sum, the champion tier re-selects — [[rebaseShaped]]).
    */
  private def sortedTableFamily(sortCols: Seq[String],
      groupBytes: Long, pageRows: Int, partitions: Int,
      foldFilter: Column = lit(true),
      shape: DataFrame => DataFrame = identity)(
      implicit spark: org.apache.spark.sql.SparkSession): ManifestFamily =
    new ManifestFamily {
      def sliceStates(g: String, conf: org.apache.hadoop.conf.Configuration) =
        Layouts.sliceStates(g, conf)
      def sealSlices(g: String, bid: String,
          conf: org.apache.hadoop.conf.Configuration): Unit =
        sealSlice(g, bid, conf)
      def copySlice(o: String, n: String, bid: String,
          conf: org.apache.hadoop.conf.Configuration, required: Boolean): Unit =
        copySliceConsistent(o, n, bid, conf, required)
      def forceCopySlice(o: String, n: String, bid: String,
          conf: org.apache.hadoop.conf.Configuration): Unit =
        copySliceForce(o, n, bid, conf)
      def fold(o: String, n: String, ids: Set[String]): Unit =
        sortedStats(shape(spark.read.parquet(o)
          .where(col("batch_id").isin(ids.toSeq: _*))
          .where(foldFilter).drop("batch_id")),
          n, sortCols, groupBytes = groupBytes, pageRows = pageRows,
          partitions = partitions, batchId = Some("base"))
    }

  /** The IVF assign tree's geometry: one `assign` table under the
    * generation root with slices one level DEEPER (`cent_id=X/batch_id=b`
    * leaf dirs, one per touched cell).
    */
  private def ivfFamily(foldFilter: Column = lit(true))(
      implicit spark: org.apache.spark.sql.SparkSession): ManifestFamily =
    new ManifestFamily {
      def sliceStates(g: String, conf: org.apache.hadoop.conf.Configuration) =
        ivfSliceStates(s"$g/assign", conf)
      def sealSlices(g: String, bid: String,
          conf: org.apache.hadoop.conf.Configuration): Unit =
        sealIvfSlices(s"$g/assign", bid, conf)
      def copySlice(o: String, n: String, bid: String,
          conf: org.apache.hadoop.conf.Configuration, required: Boolean): Unit =
        ivfCellDirs(s"$o/assign", bid, conf).foreach(cell =>
          copySliceConsistent(cell.toString,
            s"$n/assign/${cell.getName}", bid, conf, required))
      def forceCopySlice(o: String, n: String, bid: String,
          conf: org.apache.hadoop.conf.Configuration): Unit =
        ivfCellDirs(s"$o/assign", bid, conf).foreach(cell =>
          copySliceForce(cell.toString,
            s"$n/assign/${cell.getName}", bid, conf))
      def fold(o: String, n: String, ids: Set[String]): Unit =
        // one hash shuffle on cent_id co-locates each cell in one task,
        // so each cell directory lands as ONE file instead of echoing
        // the input's file-per-batch fragmentation through the write
        spark.read.parquet(s"$o/assign")
          .where(col("batch_id").isin(ids.toSeq: _*))
          .where(foldFilter)
          .drop("batch_id").withColumn("batch_id", lit("base"))
          .repartition(col("cent_id"))
          .write.mode("overwrite").partitionBy("cent_id", "batch_id")
          .parquet(s"$n/assign")
    }

  /** The slices a compact must NOT fold: per stream lineage (ids shaped
    * `<prefix>-b<N>`, the admit loop's namespace), the newest slice — a
    * pending at-least-once replay can only be of a stream's LAST batch
    * (foreachBatch commits in order), and folding it would strip the
    * self-exclusion slice that makes the replay a no-op. Explicit batch
    * ids outside that shape (the batch-API's caller-named generations)
    * have no engine replaying them and fold normally.
    */
  private def liveTail(ids: Set[String]): Set[String] = {
    val P = "^(.*)-b(\\d+)$".r
    ids.toSeq.collect { case id @ P(pre, n) => (pre, n.toLong, id) }
      .groupBy(_._1).values.map(_.maxBy(_._2)._3).toSet
  }

  /** Compact a batch-partitioned IVF index's inverted lists back to a
    * single `base` generation per cell — [[minhashCompact]]'s dual for
    * the ANN index. Appends add one file per touched cell per batch;
    * the rebase merges them so each cell directory is one tight file
    * again, at O(index) cost: no re-assignment (cent_id is already a
    * column of every row — the one pass is a read+rewrite of the lists,
    * the centroid table and `_params` are untouched) and certainly no corpus
    * rescan. Probe results are invariant, including the dynamic
    * partition pruning on cent_id (x156 value-tests both through x152's
    * per-cell oracle; IvfIndexSpec pins probe equality + the pruned
    * plan). The shared manifest protocol with slices living one level
    * deeper (cent_id=X/batch_id=b leaf dirs, one per touched cell —
    * [[ivfFamily]]).
    */
  def ivfCompact(path: String, graceGenerations: Int = 1)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (v, rootG) = currentGeneration(path, conf)
    managedCompact(path, v, rootG, ivfFamily(), graceGenerations, conf)
  }

  /** Retract a batch whose SLICE DIRECTORY no longer exists because a
    * rebase folded its rows into `base` — the deletion shape
    * [[dropBatch]] cannot express (its unit is the slice dir), and the
    * one a GDPR-grade erasure needs at 100 TB where compaction runs
    * continuously. Requires the table to carry fold-surviving row
    * provenance (`src_batch`, written by [[sortedTableAppend]] with
    * `provenance = true` from the table's first write). Runs as a
    * managed compact whose fold FILTERS the batch's rows and whose
    * live-copy skips the batch's slice, then drops the batch's remaining
    * slice dirs across retained generations. Physical erasure of the
    * GRACE generation's folded copy completes when the next
    * compact/prune cycle retires it — run one more [[sortedRebase]] to
    * force it. Same single-compactor contract as every managed compact.
    */
  def retractFolded(
      path: String,
      batchId: String,
      sortCols: Seq[String],
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0,
      graceGenerations: Int = 1)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit =
    retractRefold(path, batchId, "table", graceGenerations)(foldFilter =>
      sortedTableFamily(sortCols, groupBytes, pageRows, partitions,
        foldFilter = foldFilter))

  /** [[retractFolded]] for the MinHash trio: the same fold-surviving
    * deletion over all three tables at once — requires the index to have
    * been built AND appended with `provenance = true` (see
    * [[minhashIndex]] / [[minhashAppend]]). Probes are invariant for
    * every other batch: a provenanced fp fold de-duplicates per
    * (fp, src_batch), so a fingerprint shared across batches survives
    * its co-batches' retraction.
    */
  def minhashRetractFolded(
      path: String,
      batchId: String,
      groupBytes: Long = 128L * 1024 * 1024,
      pageRows: Int = 20000,
      partitions: Int = 0,
      graceGenerations: Int = 1)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit =
    retractRefold(path, batchId, "index", graceGenerations)(foldFilter =>
      minhashFamily(groupBytes, pageRows, partitions, foldFilter = foldFilter))

  /** [[retractFolded]] for the IVF assign tree — the vector-index leg of
    * the GDPR path (embedding batches carry PII too). Requires the index
    * to have been built AND appended with `provenance = true` (see
    * [[ivfIndex]] / [[ivfAppend]]); probes and dynamic partition pruning
    * are oblivious to the extra payload column.
    */
  def ivfRetractFolded(
      path: String,
      batchId: String,
      graceGenerations: Int = 1)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit =
    retractRefold(path, batchId, "index", graceGenerations)(ivfFamily(_))

  /** The RETRACT side of the manifest protocol, shared by the three
    * `*RetractFolded` entry points: refuse `base` and a bad id, resolve
    * the current generation, require the `provenance` the build recorded,
    * then run a managed compact whose family folds WITHOUT the batch's
    * rows (`family` gets the excluding fold filter) and whose live copies
    * skip the batch's own slice, followed by physical cleanup of its
    * surviving slice dirs across retained generations. The grace
    * generation's folded copy is erased when the next compact/prune cycle
    * retires it. `what` names the thing to rebuild in the refusal.
    */
  private def retractRefold(path: String, batchId: String, what: String,
      graceGenerations: Int)(family: Column => ManifestFamily)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    require(batchId != "base",
      s"refuse to retract the base generation — rebuild the $what instead")
    requireBatchId(batchId)
    val conf = spark.sparkContext.hadoopConfiguration
    val (v, rootG) = currentGeneration(path, conf)
    require(hasProvenance(path, conf),
      s"$path carries no fold provenance (src_batch) — only slice-" +
        "level retraction (dropBatch) is possible; build and append with " +
        "provenance = true to enable this")
    // null-safe filter: a row with NULL provenance (contract violation —
    // a bare append into a provenanced table) must be KEPT, not silently
    // deleted along with the retracted batch
    managedCompact(path, v, rootG, family(!(col("src_batch") <=> lit(batchId))),
      graceGenerations, conf, exclude = Set(batchId))
    dropBatch(path, batchId)
    ()
  }

  /** The `cent_id=X` cell directories that hold a slice of batch `bid`
    * (IVF slices live one level deeper than the MinHash tables').
    */
  private def ivfCellDirs(assignRoot: String, bid: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[org.apache.hadoop.fs.Path] = {
    val g = new org.apache.hadoop.fs.Path(s"$assignRoot/cent_id=*/batch_id=$bid")
    val fs = g.getFileSystem(conf)
    Option(fs.globStatus(g)).getOrElse(Array.empty).toSeq
      .map(_.getPath.getParent)
  }

  /** (batch id, sealed) across an IVF assign table's leaf slices: a batch
    * is complete (any-sealed ⇒ all writes finished — sealing starts only
    * after the write returns, exactly the MinHash argument) when any of
    * its cell dirs carries the marker.
    */
  private def ivfSliceStates(assignRoot: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Boolean)] = {
    val g = new org.apache.hadoop.fs.Path(s"$assignRoot/cent_id=*/batch_id=*")
    val fs = g.getFileSystem(conf)
    Option(fs.globStatus(g)).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .map { s =>
        val id = s.getPath.getName.stripPrefix("batch_id=")
        id -> fs.exists(new org.apache.hadoop.fs.Path(s.getPath, SealName))
      }
      .groupBy(_._1).view.mapValues(_.exists(_._2)).toSeq
  }

  private def sealIvfSlices(assignRoot: String, bid: String,
      conf: org.apache.hadoop.conf.Configuration): Unit =
    ivfCellDirs(assignRoot, bid, conf).foreach { cell =>
      val dir = new org.apache.hadoop.fs.Path(s"$cell/batch_id=$bid")
      dir.getFileSystem(conf)
        .createNewFile(new org.apache.hadoop.fs.Path(dir, SealName))
    }

  /** Retire generations (and their manifest pointer files) older than the
    * grace horizon — shared by both managed compacts. CONTRACT: an
    * in-flight probe or append must not span more than `graceGenerations`
    * compaction cycles (the snapshot-expiry rule; size the grace to the
    * longest-running operation).
    */
  private def pruneGenerations(path: String, v: Long, graceGenerations: Int,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val keepFrom = v + 1 - math.max(1, graceGenerations)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.matches("g=\\d{9}"))
      .filter(_.getPath.getName.stripPrefix("g=").toLong < keepFrom)
      .foreach(s => fs.delete(s.getPath, true))
    val md = new org.apache.hadoop.fs.Path(s"$path/$ManifestDirName")
    fs.listStatus(md).filter(_.getPath.getName.matches("v\\d{9}"))
      .filter(_.getPath.getName.drop(1).toLong < keepFrom)
      .foreach(s => fs.delete(s.getPath, false))
  }

  /** Hash-bucketed + sorted table: two tables bucketed the same way
    * sort-merge-join with NO exchange on either side (BucketingSpec pins
    * the plan). Bucketing requires `saveAsTable` (the bucket spec lives in
    * the catalog, not the footer).
    */
  def bucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
