package graft.tools

import graft.GraftSession
import graft.operators.{Components, Dedup, SimilaritySearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 50×–100× scale sweep for the heavy dedup/ANN families, with the fitted
  * growth exponent per family — the measured backing for SCALING.md's
  * 100 TB claims (the 10×/20× ScaleSmoke datapoints only bound the curve's
  * start).
  *
  * Replication model — REALISTIC, unlike ScaleSmoke's adversarial one: at
  * scale c every base doc yields c copies in duplicate GROUPS OF 5 (each
  * group's members differ by one token — near-dups at jac ≈ 0.96; distinct
  * groups of the same base doc are pushed below any 0.5 threshold by a
  * 60-token salt block, and base text is truncated to 300 chars so the
  * salt block provably dominates: cross-group jac ≤ 50/170 < 0.3). A real
  * corpus at 100× the size has ~100× the duplicate pairs, not 100²× —
  * group size is a property of the data (how often a page is mirrored),
  * not of corpus size. Under this model every family's stated driver
  * (rows, pairs, edges, cells) grows LINEARLY in c, so the honest pass
  * criterion is: fitted wall-time exponent vs c ≈ 1 (sub-linear when a
  * fixed overhead still dominates). The adversarial full-replication
  * density curve stays ScaleSmoke's job.
  *
  * One scan per corpus: replication is an explode over `sequence(0, c-1)`,
  * never a c-way union (a 100-way union's plan alone would distort small
  * scales).
  */
object ScaleSweep {

  private val Group = 5 // duplicate-group size, fixed across scales

  /** (copies × base) documents in 5-way near-dup groups; cross-group
    * similarity structurally below 0.5 (see object doc). The salt block
    * is keyed on (doc_id, group) — keyed on the group index alone, every
    * doc with the same copy index would share 60 salt tokens and short
    * docs would become spurious cross-corpus near-dups (first sweep run:
    * 48 M pairs at 10× instead of ~100 k). The explode inherits the
    * single-file scan's one partition, so the corpus is repartitioned
    * before checkpointing or every downstream map stage runs as ONE task.
    */
  /** The ONE replicated-events construction (review r16: two sibling
    * blocks each built their own copy and one leaked its checkpoint):
    * copy i shifts ts by a year (hour/window axes grow ∝ c and no
    * attribution window crosses copies), user_id by an even constant
    * (cohort parity preserved), value by 1000 (the milli-bucket ECDF
    * axis grows ∝ c), event_id far past the base id space.
    */
  private def replicateEvents(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, copies: Int, parallelism: Int): DataFrame =
    GraftSession.table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"),
        explode(sequence(lit(0), lit(copies - 1))).as("i"))
      .select(
        (col("event_id") + col("i") * lit(100000000L)).as("event_id"),
        (col("ts") + col("i") * lit(31536000000000000L)).as("ts"),
        (col("user_id") + col("i") * lit(1000000L)).as("user_id"),
        col("event_type"),
        (col("value") + col("i") * lit(1000.0)).as("value"))
      .repartition(parallelism).localCheckpoint()

  private def replicateDocs(base: DataFrame, copies: Int, parallelism: Int): DataFrame =
    base
      .select(col("doc_id"), substring(col("text"), 1, 300).as("t"),
        explode(sequence(lit(0), lit(copies - 1))).as("i"))
      .select((col("doc_id") + col("i") * 1000000L).as("doc_id"),
        concat(col("t"), lit(" u"), (col("i") % Group).cast("string"), lit(" "),
          expr(s"""concat_ws(' ', transform(sequence(0, 59),
                  |  j -> concat('s', CAST(doc_id AS STRING), '_',
                  |              CAST(i div $Group AS STRING), 'x',
                  |              CAST(j AS STRING))))""".stripMargin))
          .as("text"))
      .repartition(parallelism)

  /** (copies × base) embeddings, each copy perturbed on one dimension so
    * vectors are distinct but copies of one base stay near (the shape a
    * re-embedded mirrored corpus has).
    */
  private def replicateEmb(base: DataFrame, copies: Int, parallelism: Int): DataFrame =
    base
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(copies - 1))).as("i"))
      .select((col("vec_id") + col("i") * 1000000L).as("vec_id"),
        expr("""transform(embedding, (x, j) ->
                |  CAST(x + CAST(i AS FLOAT) * 0.01f *
                |    (CASE WHEN j = pmod(i, 64) THEN 1.0f ELSE 0.0f END) AS FLOAT))"""
          .stripMargin).as("embedding"))
      .repartition(parallelism)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val scales = (if (args.length > 1) args(1) else "10,25,50,100")
      .split(",").map(_.trim.toInt).toSeq
    // optional third arg: comma-separated family filter, so one family's
    // row can be re-measured without paying for every build in the sweep
    val famFilter: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    def want(family: String): Boolean = famFilter.forall(_.contains(family))
    val spark = GraftSession.build("graft-scalesweep")
    spark.sparkContext.setLogLevel("ERROR")
    // SWEEP_STAGE_LOG=1: per-stage wall/task attribution on stderr — the
    // probe for "which stage starves the cores" (a cell whose timeline
    // shows 6 of 24 cores busy with zero GC and zero steal is bottlenecked
    // on one stage's task shape, and THAT is invisible from 1 Hz host
    // counters). wall = stage submission→completion; runtime = summed
    // executor task time (wall ≈ runtime/1 ⇒ one task ran alone; wall ≈
    // runtime/cores ⇒ fully parallel); spill flags memory pressure.
    if (sys.env.get("SWEEP_STAGE_LOG").contains("1"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wall = for (a <- i.submissionTime; b <- i.completionTime) yield b - a
          System.err.println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%5d " +
            f"wall=${wall.getOrElse(-1L) / 1e3}%8.1fs " +
            f"runtime=${i.taskMetrics.executorRunTime / 1e3}%9.1fs " +
            f"shuffleRead=${i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB " +
            f"spill=${i.taskMetrics.diskBytesSpilled / 1e6}%8.1fMB  ${i.name.take(60)}")
        }
      })
    val baseDocs = GraftSession.table(spark, sfDir, "documents")
      .select("doc_id", "text").localCheckpoint()
    val baseEmb = GraftSession.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").localCheckpoint()
    val n0 = baseDocs.count()

    // SWEEP_REPEAT=3: run each timed cell N times and record the MEDIAN —
    // the shared-host answer to single-run variance (round-10 sweep saw up
    // to 2.7× on heavy join stages: 50× minhash 20.2 vs 5.0/9.8 s). Counts
    // must reproduce exactly across repeats (asserted) — only wall time is
    // allowed to vary.
    val repeat = math.max(1, sys.env.getOrElse("SWEEP_REPEAT", "1").toInt)
    // per-scale 1 Hz cpu/rss/disk/net timeline (same sampler as Bench):
    // the sweep's super-linear intervals should be attributable to CPU vs
    // shuffle/disk from the CSV, not guessed. `# sec family` marker rows
    // segment each scale's CSV per timed cell.
    var telem: Option[graft.metrics.Telemetry] = None
    // family -> (scale -> (seconds, driver count))
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, (Double, Long)]]
    // index builds refuse a path that already holds a published index
    // and `record` may repeat its body, so every build writes a fresh
    // subdir of its cell's temp dir (deleted with it)
    var builds = 0
    def fresh(dir: String): String = { builds += 1; s"$dir/b$builds" }
    // `prelude` runs untimed before every repeat: it re-stages what a
    // destructive body consumed, so each repeat times the same work
    def record(family: String, c: Int, prelude: => Unit = ())(body: => Long): Unit = if (want(family)) {
      telem.foreach(_.mark(s"$family"))
      val runs = (1 to repeat).map { i =>
        // clean slate between repeats: cached/checkpointed blocks from the
        // prior run must neither bill to nor OOM the next (the Bench
        // between-queries discipline; a repeat-3 100× prefix run exhausted
        // an 8g heap on accumulated checkpoint blocks without it)
        if (i > 1) { spark.sharedState.cacheManager.clearCache(); System.gc() }
        prelude
        val spinFrom = telem.map(_.nowSec).getOrElse(0.0)
        val t0 = System.nanoTime()
        val count = body
        val wall = (System.nanoTime() - t0) / 1e9
        // host throughput DURING this run: the round-13 prefix
        // investigation proved this box's single-thread throughput swings
        // 10–20× in bursts invisible to steal_pct — a cell is only
        // comparable to another cell at a similar spin level, so every
        // run records the probe median over its own window
        val spin = telem.map(_.spinMedian(spinFrom, spinFrom + wall)).getOrElse(0.0)
        (wall, count, spin)
      }
      require(runs.map(_._2).distinct.size == 1,
        s"$family c=$c: driver counts diverged across repeats: ${runs.map(_._2)}")
      val sec = runs.map(_._1).sorted.apply(runs.length / 2)
      val count = runs.head._2
      results.getOrElseUpdate(family,
        scala.collection.mutable.LinkedHashMap.empty) += c -> (sec, count)
      val runsNote = if (repeat > 1)
        runs.map(r => f"${r._1}%.2f").mkString(" runs=[", ",", "]") else ""
      // per-run host throughput (median spin_mops inside each run's own
      // window): a run list like [60.2@6.3, 20.9@8.1] reads as "the slow
      // run happened on a degraded host", settled from the artifact
      val spinNote = runs.map(r => f"${r._3}%.1f").mkString(" spin=[", ",", "]")
      println(f"[sweep] c=$c%3d $family%-24s ${sec}%8.2f s  n=$count%,d$runsNote$spinNote")
      spark.sharedState.cacheManager.clearCache()
    }

    val par = spark.sparkContext.defaultParallelism * 2
    // Streaming ANN serving support (VERDICT r13 #4): per-trigger latency
    // collected from the engine's own progress events (the Bench listener
    // pattern); zero-input drain triggers excluded. The index is built
    // ONCE at base corpus size — the serving axis swept here is stream
    // LENGTH (trigger count ∝ c), the claim being that per-trigger
    // latency stays flat as the stream runs longer (no state/ledger
    // bloat); index-size growth is ivf_index_build/ivf_probe's row.
    val annTriggers = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    if (want("ann_serve"))
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          if (p.numInputRows > 0) {
            val d = p.durationMs.get("triggerExecution")
            if (d != null) annTriggers.add(d.toDouble / 1e3)
          }
        }
      })
    lazy val annIdx: String =
      graft.queries.ExtensionCatalog.stagedIvfIndex(spark, sfDir) // x144's index
    // per-scale p50s across ALL repeats — the flatness verdict compares
    // per-scale MEDIANS, the same noise discipline as the wall cells
    val annServeP = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[Double]]
    for (c <- scales) {
      println(s"[sweep] ==== scale ${c}x: ${n0 * c} docs ====")
      telem = Some(new graft.metrics.Telemetry().start())
      val docFams = Seq("exact_dedup", "minhash_lsh_pairs",
        "exact_prefix_jaccard", "components", "minhash_index_build",
        "ingest_probe_banded", "jaccard_index_build", "ingest_probe_exact",
        "simhash_index_build", "simhash_probe", "retract_folded",
        "bm25_index_build", "bm25_serve", "bm25_append", "bm25_retract",
        "bm25_append_guard", "positional_index_build", "phrase_serve",
        "near_serve", "gapped_serve", "positional_append",
        "chunk_bm25_build", "passage_serve")
      lazy val docs = replicateDocs(baseDocs, c, par).localCheckpoint()
      if (docFams.exists(want)) docs // force the checkpoint once
      record("exact_dedup", c)(Dedup.exact(docs).count())
      if (want("minhash_lsh_pairs") || want("components")) {
        val pairDf = Dedup.minhashNearDups(docs, k = 16, bands = 8,
          shingleN = 3, threshold = 0.5)
        record("minhash_lsh_pairs", c)(pairDf.count())
        // checkpoint the pair set BEFORE the timed block: the eager
        // checkpoint re-runs pair generation, and timing it inside
        // `components` would conflate the pair-generation exponent with
        // CC's own growth (the row SCALING.md actually claims)
        val pairsCk = pairDf.localCheckpoint(true)
        record("components", c)(
          Components.connectedComponents(pairsCk).count())
      }
      record("exact_prefix_jaccard", c)(
        Dedup.exactJaccardSelfPairs(
          Dedup.minhashSignature(docs, k = 16, shingleN = 3)
            .select(col("doc_id"), col("shingles")),
          threshold = 0.5).count())
      // volume probe, not a timing row: counts at each funnel stage of the
      // prefix pipeline (exploded prefix rows → raw tok-join candidate rows
      // → distinct pairs), so "time grew 8× for 2× data" decomposes into
      // "the work grew" vs "the per-row cost grew" from the artifact
      // instead of estimation. EXPLICIT selection only (famFilter names
      // it) — unlike timed families it must not ride the default sweep,
      // where it would re-run the heaviest join twice more per scale
      if (famFilter.exists(_.contains("prefix_diag"))) {
        val sorted = Dedup.sortedSets(
          Dedup.minhashSignature(docs, k = 16, shingleN = 3)
            .select(col("doc_id"), col("shingles")),
          "doc_id", "shingles").localCheckpoint()
        val freq = sorted.select(explode(col("s")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("f"))
        val pref = Dedup.freqOrderedPrefix(sorted, freq, "doc_id", 0.5,
          freqShuffleHash = true).localCheckpoint()
        val nPref = pref.count()
        val cand = pref.as("a").join(pref.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
            least(col("a.ns"), col("b.ns")).cast("double") >=
              greatest(col("a.ns"), col("b.ns")) * lit(0.5) - lit(1e-9))
        val nCand = cand.count()
        val nPairs = cand.select("a.doc_id", "b.doc_id").distinct().count()
        println(f"[sweep] c=$c%3d prefix_diag: prefix_rows=$nPref%,d " +
          f"candidate_rows=$nCand%,d distinct_pairs=$nPairs%,d")
      }
      // persisted-index path: build on the corpus (linear), probe a FIXED
      // shard (must track the shard, i.e. stay ~flat as c grows). The
      // shard is copy 0 of the corpus re-identified — half exact
      // re-deliveries, half one-token edits — so the probes classify real
      // duplicates, not structurally-dissimilar strangers. A filtered-out
      // build row still builds (untimed) when its probe is selected.
      lazy val shard = docs.where(col("doc_id") < 1000000L).select(
        (col("doc_id") + lit(900000000L)).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" xtra"))).as("text"))
      if (want("minhash_index_build") || want("ingest_probe_banded")) {
        val mhDir = java.nio.file.Files.createTempDirectory(s"sweep-mh$c").toString
        var mhIdx = ""
        def buildIt(): Unit = {
          mhIdx = fresh(mhDir)
          graft.sources.Layouts.minhashIndex(docs, mhIdx, partitions = 16)
        }
        if (want("minhash_index_build")) record("minhash_index_build", c) {
          buildIt(); n0 * c
        } else buildIt()
        record("ingest_probe_banded", c)(
          Dedup.incrementalDedupStaged(shard, mhIdx,
            "doc_id", "text", threshold = 0.5).count())
        scala.reflect.io.Directory(new java.io.File(mhDir)).deleteRecursively()
      }
      if (want("jaccard_index_build") || want("ingest_probe_exact")) {
        val jacDir = java.nio.file.Files.createTempDirectory(s"sweep-jac$c").toString
        if (want("jaccard_index_build")) record("jaccard_index_build", c) {
          graft.sources.Layouts.jaccardIndex(docs, jacDir, partitions = 16); n0 * c
        } else graft.sources.Layouts.jaccardIndex(docs, jacDir, partitions = 16)
        record("ingest_probe_exact", c)(
          Dedup.exactJaccardPairsStaged(shard, jacDir, "doc_id", "text",
            threshold = 0.5).count())
        scala.reflect.io.Directory(new java.io.File(jacDir)).deleteRecursively()
      }
      // Round-17 family: the banded-SimHash managed sorted table (x173)
      // and fold-surviving retraction (x174). Build is one signature pass
      // + a range sort (linear); the probe tracks the FIXED shard against
      // the banded candidate join (flat while the corpus grows — band
      // buckets bound candidates, replicated texts are distinct by
      // construction); retract_folded times ONLY the filtered re-fold,
      // the O(index)-not-O(corpus) claim (append + rebase run untimed
      // before every repeat).
      if (want("simhash_index_build") || want("simhash_probe") ||
          want("retract_folded")) {
        val shDir = java.nio.file.Files.createTempDirectory(s"sweep-sh$c").toString
        val shCols = Seq("band_no", "band_val")
        try {
          def bands(df: DataFrame) = Dedup.simhashBanded(df)
          var shIdx = ""
          def buildIt(): Unit = {
            shIdx = fresh(shDir)
            graft.sources.Layouts.sortedTable(
              bands(docs), shIdx, shCols, partitions = 16, provenance = true)
          }
          if (want("simhash_index_build"))
            record("simhash_index_build", c) { buildIt(); n0 * c }
          else buildIt()
          if (want("simhash_probe")) record("simhash_probe", c) {
            val ib = spark.read.parquet(
              graft.sources.Layouts.indexRoot(shIdx)(spark))
            bands(shard).as("p").join(ib.as("i"),
                col("p.band_no") === col("i.band_no") &&
                  col("p.band_val") === col("i.band_val") &&
                  col("p.doc_id") =!= col("i.doc_id"))
              .select(col("p.doc_id").as("a"), col("i.doc_id").as("b"),
                bit_count(col("p.sh").bitwiseXOR(col("i.sh"))).as("h"))
              .distinct().where(col("h") <= 3).count()
          }
          // every repeat folds batch rx in again, so each retract erases it
          if (want("retract_folded")) record("retract_folded", c, prelude = {
            graft.sources.Layouts.sortedTableAppend(bands(shard), shIdx,
              shCols, batchId = Some("rx"), provenance = true)
            graft.sources.Layouts.sortedRebase(shIdx, shCols,
              partitions = 16)(spark)
          }) {
            graft.sources.Layouts.retractFolded(shIdx, "rx", shCols,
              partitions = 16)(spark)
            spark.read.parquet(
              graft.sources.Layouts.indexRoot(shIdx)(spark)).count()
          }
        } finally scala.reflect.io.Directory(
          new java.io.File(shDir)).deleteRecursively()
      }
      // Round-17 family: the persisted BM25 term-posting index (x178).
      // Build is two grouped passes over the token explode + a range
      // sort (linear in corpus). The serve cell probes a FIXED 3-term
      // query: its cost is the queried terms' posting ranges — which DO
      // grow linearly with the corpus for common terms, but as a
      // term-pruned sliver of the index (the claim is O(matching
      // postings) with row-group pruning, never O(corpus text)).
      if (want("bm25_index_build") || want("bm25_serve")) {
        val bmDir = java.nio.file.Files.createTempDirectory(s"sweep-bm$c").toString
        try {
          var bmIdx = ""
          def buildIt(): Unit = {
            bmIdx = fresh(bmDir)
            graft.sources.Layouts.bm25Index(docs, bmIdx, partitions = 16)
          }
          if (want("bm25_index_build"))
            record("bm25_index_build", c) { buildIt(); n0 * c }
          else buildIt()
          if (want("bm25_serve")) record("bm25_serve", c) {
            graft.operators.Bm25
              .topK(spark, bmIdx, Seq("scan", "merge", "vector")).count()
          }
        } finally scala.reflect.io.Directory(
          new java.io.File(bmDir)).deleteRecursively()
      }
      // Round-18 family: the positional index + exact-phrase serving
      // (x192/x194). Build is one posexplode + range sort — token-count-
      // sized, ~linear. The serve cell probes a FIXED 2-term phrase: the
      // scan prunes to the phrase terms' posting ranges and the only
      // shuffle is (doc_id, start) over matching rows — the O(matching
      // postings) claim. Append is a FIXED-size batch slice, O(batch).
      if (want("positional_index_build") || want("phrase_serve")
          || want("near_serve") || want("gapped_serve")
          || want("positional_append")) {
        val pDir = java.nio.file.Files.createTempDirectory(s"sweep-pos$c").toString
        try {
          var pIdx = ""
          def buildIt(): Unit = {
            pIdx = fresh(pDir)
            graft.sources.Layouts.positionalIndex(docs, pIdx, partitions = 16)
          }
          if (want("positional_index_build"))
            record("positional_index_build", c) { buildIt(); n0 * c }
          else buildIt()
          if (want("phrase_serve")) record("phrase_serve", c) {
            graft.operators.Phrase
              .topK(spark, pIdx, Seq("table", "hash")).count()
          }
          // Span-near and gapped-template probes (x196/x197) ride the
          // same pruned posting ranges: expected flat-band like
          // phrase_serve — the band joins and slot algebra touch only
          // the FIXED query terms' postings, never the corpus.
          if (want("near_serve")) record("near_serve", c) {
            graft.operators.Phrase
              .near(spark, pIdx, Seq("hash", "join", "sort"), 3).count()
          }
          if (want("gapped_serve")) record("gapped_serve", c) {
            graft.operators.Phrase
              .gapped(spark, pIdx, Seq(0 -> "merge", 2 -> "join"), 3).count()
          }
          if (want("positional_append")) record("positional_append", c) {
            graft.sources.Layouts.positionalAppend(shard, pIdx,
              batchId = Some("rx")); n0
          }
        } finally scala.reflect.io.Directory(
          new java.io.File(pDir)).deleteRecursively()
      }
      // Round-18: passage-grained BM25 (x200) — the chunk explode adds a
      // constant factor to the build (more, shorter "docs"; token count
      // unchanged), and the max-pool probe reads the query terms' CHUNK
      // postings + one (term, doc) groupBy over matching chunks: expected
      // ~linear build, flat-band serve like bm25_serve.
      if (want("chunk_bm25_build") || want("passage_serve")) {
        val cbDir = java.nio.file.Files.createTempDirectory(s"sweep-cbm$c").toString
        try {
          var cbIdx = ""
          def buildIt(): Unit = {
            cbIdx = fresh(cbDir)
            val chunks = docs
              .select(col("doc_id"), split(col("text"), " ").as("toks"))
              .withColumn("n", size(col("toks")).cast("long"))
              .withColumn("chunk_no",
                explode(sequence(lit(0L), expr("(n - 1) div 8"))))
              .select((col("doc_id") * 1000 + col("chunk_no")).as("chunk_id"),
                array_join(slice(col("toks"),
                  (col("chunk_no") * 8 + 1).cast("int"), lit(8)), " ")
                  .as("chunk_text"))
            graft.sources.Layouts.bm25Index(chunks, cbIdx,
              idCol = "chunk_id", textCol = "chunk_text", partitions = 16)
          }
          if (want("chunk_bm25_build"))
            record("chunk_bm25_build", c) { buildIt(); n0 * c }
          else buildIt()
          if (want("passage_serve")) record("passage_serve", c) {
            graft.operators.Bm25
              .scored(spark, cbIdx, Seq("scan", "merge", "vector"))
              .withColumn("doc", expr("doc_id div 1000"))
              .groupBy("term", "doc")
              .agg(max("score").as("best_score")).count()
          }
        } finally scala.reflect.io.Directory(
          new java.io.File(cbDir)).deleteRecursively()
      }
      // Round-18 family: BM25 incremental maintenance (x182/x183), now
      // O(batch) end to end — a FIXED-size batch (the shard) lands on a
      // c-scaled index as three slice writes (postings + df/global delta
      // + champion tier) and retract is a pure slice drop; NOTHING
      // index-sized runs (the r17 design re-aggregated the whole postings
      // table per op, measured at exponents 0.25/0.53 — VERDICT r17 #1).
      // The timed cells disable the optional new-doc overlap guard (its
      // doc_id-column anti-probe is deliberately index-sized integrity
      // checking, not maintenance); bm25_append_guard measures the
      // guarded mode separately so SCALING.md can report both.
      if (want("bm25_append") || want("bm25_retract")
          || want("bm25_append_guard")) {
        val bmDir = java.nio.file.Files.createTempDirectory(s"sweep-bmm$c").toString
        try {
          graft.sources.Layouts.bm25Index(docs, bmDir, partitions = 16)
          if (want("bm25_append_guard")) record("bm25_append_guard", c) {
            graft.sources.Layouts.bm25Append(shard, bmDir,
              batchId = Some("rg"), enforceNewDocs = true); n0
          }
          if (want("bm25_append")) record("bm25_append", c) {
            graft.sources.Layouts.bm25Append(shard, bmDir,
              batchId = Some("rx"), enforceNewDocs = false); n0
          } else graft.sources.Layouts.bm25Append(shard, bmDir,
            batchId = Some("rx"), enforceNewDocs = false)
          if (want("bm25_retract")) {
            // the fail-loud retract (round 18) refuses to drop the same
            // id twice, so a repeat-N cell stages N fresh id-shifted
            // slices up front and pops one per timed run
            val ids = (1 to repeat).map(i => s"rx$i")
            ids.zipWithIndex.foreach { case (id, i) =>
              graft.sources.Layouts.bm25Append(
                shard.withColumn("doc_id",
                  col("doc_id") + lit((i + 1) * 10000000L)),
                bmDir, batchId = Some(id), enforceNewDocs = false)
            }
            val next = new java.util.concurrent.atomic.AtomicInteger(0)
            record("bm25_retract", c) {
              graft.sources.Layouts.bm25Retract(
                bmDir, ids(next.getAndIncrement()))(spark); n0
            }
          }
        } finally scala.reflect.io.Directory(
          new java.io.File(bmDir)).deleteRecursively()
      }
      // Persisted IVF index: centModulo fixed, so cell size stays ~50
      // vectors at every scale and the probe's nprobe read is
      // constant-size while the corpus grows — the flat-probe claim.
      // The build's n·cells assignment term grows ~c² here (cells ∝ c);
      // that slope is the measured argument FOR the two-level coarse
      // pass (x140) once cell count is corpus-proportional, so the
      // family runs on a 1/10 base to keep the sweep affordable.
      if (want("ivf_index_build") || want("ivf_probe_staged")
          || want("ivf_index_build_2l")) {
        // SWEEP_IVF_CENTMOD overrides centroid density: the default 500
        // keeps the default full sweep affordable; a denser setting (e.g.
        // 50 → cells ∝ c at 5× the count) is where the flat build's n·k
        // term visibly separates from the two-level n·√k curve
        val centMod = sys.env.getOrElse("SWEEP_IVF_CENTMOD", "500").toLong
        val embBase = baseEmb.where(col("vec_id") % 10 === 0)
        val emb = replicateEmb(embBase, c, par).localCheckpoint()
        // count OUTSIDE the timed block (siblings return the untimed
        // n0 * c) — an in-block count would add a c-proportional scan to
        // the very row whose growth exponent is the headline
        val nEmb = emb.count()
        // the flat build runs only when its own row or the probe needs
        // it — a 2l-only sweep must not pay the flat n·k build untimed
        // (at dense centroids that is minutes of dead work per scale)
        if (want("ivf_index_build") || want("ivf_probe_staged")) {
          val ivfDir = java.nio.file.Files.createTempDirectory(s"sweep-ivf$c").toString
          // DEFAULT path (twoLevel auto-select) — the row a naive user's
          // build measures; above the centroid threshold this now rides
          // the n·√k two-level assignment (VERDICT r12 watch-item #1)
          var ivfIdx = ""
          def buildIt(): Unit = {
            ivfIdx = fresh(ivfDir)
            graft.sources.Layouts.ivfIndex(emb, ivfIdx, centModulo = centMod)
          }
          if (want("ivf_index_build")) record("ivf_index_build", c) {
            buildIt(); nEmb
          } else buildIt()
          record("ivf_probe_staged", c)(
            SimilaritySearch.ivfTopKStaged(
              embBase.where(col("vec_id") < 100), ivfIdx, k = 5, nprobe = 2).count())
          scala.reflect.io.Directory(new java.io.File(ivfDir)).deleteRecursively()
        }
        // the n·√k two-level build at the SAME centroid density — the
        // curve that must stay flatter than the flat build's n·cells as
        // cells grow ∝ c
        if (want("ivf_index_build_2l")) {
          val ivf2 = java.nio.file.Files.createTempDirectory(s"sweep-ivf2l$c").toString
          record("ivf_index_build_2l", c) {
            graft.sources.Layouts.ivfIndex(emb, fresh(ivf2), centModulo = centMod,
              twoLevel = Some(true)); nEmb
          }
          scala.reflect.io.Directory(new java.io.File(ivf2)).deleteRecursively()
        }
        // the FLAT n·k assignment pinned explicitly — the A/B leg the
        // auto default walks away from at corpus-proportional cell count
        if (want("ivf_index_build_flat")) {
          val ivff = java.nio.file.Files.createTempDirectory(s"sweep-ivffl$c").toString
          record("ivf_index_build_flat", c) {
            graft.sources.Layouts.ivfIndex(emb, fresh(ivff), centModulo = centMod,
              twoLevel = Some(false)); nEmb
          }
          scala.reflect.io.Directory(new java.io.File(ivff)).deleteRecursively()
        }
      }
      // SemDeDup with the centroid knob: cells ~50 at EVERY scale
      if (want("semdedup_scaled")) {
        val emb = replicateEmb(baseEmb, c, par).localCheckpoint()
        record("semdedup_scaled", c)(
          SimilaritySearch.semDedupScaled(emb, targetCellSize = 50, tau = 0.25)
            .where(col("dropped")).count())
      }
      // Drift monitors at scale — the two range-partitioned prefix-sum
      // constructions (x142 KS, x147 CUSUM) measured on the axis each one
      // claims to survive. Replication grows the HARD dimension, not just
      // the row count: ks_drift shifts value by i·1000 per copy so the
      // milli-bucket ECDF axis grows ∝ c (10 M distinct buckets at 100×);
      // cusum_ledger shifts ts by i·1 year so the hourly series grows ∝ c.
      // user_id shifts by an EVEN constant per copy, preserving the
      // cohort-parity split exactly.
      if (want("ks_drift") || want("cusum_ledger")) {
        val ev = replicateEvents(spark, sfDir, c, par)
        // the recorded "count" for ks_drift is the KS statistic itself
        // (micro-units): an exact integer that must reproduce across
        // repeats — the same determinism pin the other families get from
        // their pair counts
        if (want("ks_drift")) record("ks_drift", c) {
          val e = ev.select(floor(col("value") * 1000).cast("long").as("vm"),
            (col("user_id") % 2).as("g"))
          val cnt = e.groupBy("vm").agg(
            sum(when(col("g") === 0, 1L).otherwise(0L)).as("a"),
            sum(when(col("g") === 1, 1L).otherwise(0L)).as("b"))
          val run = graft.operators.PrefixSum.runningTotals(
            cnt, "vm", Seq("a" -> "ca", "b" -> "cb"))
          val tot = cnt.agg(sum("a").as("na"), sum("b").as("nb"))
          def dec(x: org.apache.spark.sql.Column) = x.cast("decimal(19,0)")
          run.crossJoin(broadcast(tot))
            .select(col("na"), col("nb"),
              abs(dec(col("ca")) * dec(col("nb"))
                - dec(col("cb")) * dec(col("na"))).as("d"))
            .groupBy("na", "nb").agg(max(col("d")).cast("decimal(38,0)").as("ks_num"))
            .select(when(dec(col("na")) * dec(col("nb")) =!= 0,
              round(col("ks_num").cast("double")
                / (dec(col("na")) * dec(col("nb"))).cast("double") * 1e6))
              .cast("long").as("ks_micro"))
            .collect() match {
              // na*nb == 0 (empty/one-cohort events at some sweep scale)
              // makes ks_micro NULL — getLong on it would NPE and kill
              // the whole sweep run; record a -1 sentinel cell instead
              case rows if rows.isEmpty || rows(0).isNullAt(0) => -1L
              case rows => rows(0).getLong(0)
            }
        }
        if (want("cusum_ledger")) record("cusum_ledger", c) {
          import graft.operators.PrefixSum
          val hc = ev.groupBy(expr("ts div 3600000000000").as("h"))
            .agg(count(lit(1)).as("n"))
          val tot = hc.agg(sum("n").as("t"), count(lit(1)).as("hh"))
          val dev = hc.crossJoin(broadcast(tot))
            .select(col("h"), col("n"), (col("n") - expr("t div hh")).as("dev"))
          val p = PrefixSum.runningTotals(dev, "h", Seq("dev" -> "p"))
          PrefixSum.runningMax(
              PrefixSum.runningMin(p, "h", "p", "mn"), "h", "p", "mx")
            .select((col("p") - least(col("mn"), lit(0L))).as("cusum"),
              (greatest(col("mx"), lit(0L)) - col("p")).as("cusum_down"))
            .count()
        }
        graft.metrics.RowProbe.releaseCheckpoint(ev)
      }
      // Round-16 families. zorder_write: the Morton layout rewrite over
      // the replicated events plane (user_id × value) — one range shuffle
      // + write, so the honest expectation is exponent ≈ 1 on rows; the
      // recorded count re-reads the layout (row preservation is part of
      // the timed contract, exactly what x163 gates at fixture scale).
      // stream_attribution: the x166 interval join's BATCH-equal plan
      // (EventsStream.attribution scaladoc: same plan runs both) over
      // copies shifted by a year each, so the 6 h window never crosses
      // copies and the matched-pair driver grows EXACTLY linearly — the
      // recorded count (= c × base pairs) is the determinism pin, and the
      // wall cell measures the time-range join whose state bound is the
      // 100 TB/day claim.
      if (want("zorder_write") || want("stream_attribution")) {
        val ev = replicateEvents(spark, sfDir, c, par)
        if (want("zorder_write")) {
          // dir created and deleted OUTSIDE the timed cell (the index-
          // build families' discipline — review r16: billing the c-scaled
          // recursive delete to the cell inflated every measurement);
          // repeats overwrite the same dir, which is zordered's own mode
          val out = graft.queries.ExtensionCatalog.stagedScratch("sweep-zorder")
          try record("zorder_write", c) {
            graft.sources.Layouts.zordered(
              ev.select("event_id", "user_id", "value"), out, "user_id", "value")
            spark.read.parquet(out).count()
          } finally // delete on failure too: the c-scaled Morton layout
            // would otherwise leak under the scratch base (ADVICE r16)
            scala.reflect.io.Directory(new java.io.File(out)).deleteRecursively()
        }
        if (want("stream_attribution")) record("stream_attribution", c)(
          graft.streaming.EventsStream.attribution(ev, windowSec = 21600L)
            .count())
        graft.metrics.RowProbe.releaseCheckpoint(ev)
      }
      // Streaming serving: c one-file micro-batches of the same 1000-query
      // feed against the base-size staged IVF index. The recorded count is
      // the trigger count (== c, the determinism pin); the wall cell is
      // linear in c by construction, and the serving-grade number — flat
      // per-trigger p50 — prints per scale plus a flatness verdict after
      // the sweep.
      if (want("ann_serve")) {
        annIdx // force the one-time index build OUTSIDE the timed cell
        record("ann_serve", c) {
          annTriggers.clear()
          val base = graft.queries.ExtensionCatalog.stagedScratch("sweep-annserve")
          val in = s"$base/in"
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
          // ONE write job per repeat; the c byte-identical feed files are
          // file copies, not c re-executions of the same write plan
          GraftSession.table(spark, sfDir, "embeddings")
            .where(col("vec_id") < 1000)
            .coalesce(1).write.mode("overwrite").parquet(s"$base/stage")
          val part = new java.io.File(s"$base/stage").listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          (0 until c).foreach(b => java.nio.file.Files.copy(part.toPath,
            java.nio.file.Paths.get(f"$in/q$b%04d.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING))
          val q = graft.streaming.StreamAnn.serve(
            spark, in, annIdx, s"$base/ledger", s"$base/ckpt")
          try q.processAllAvailable() finally q.stop()
          // progress events post asynchronously — drain to quiescence for
          // the latency STATS (allowed to miss a straggler); the pinned
          // driver count below comes from the ledger's batch_id
          // partitions, which processAllAvailable DOES guarantee, so a
          // lagging listener bus can never diverge the repeat counts
          var last = -1
          var waited = 0
          while (waited < 1000 && annTriggers.size != last) {
            last = annTriggers.size
            Thread.sleep(20); waited += 20
          }
          import scala.jdk.CollectionConverters._
          val ds = annTriggers.asScala.map(_.doubleValue).toSeq.sorted
          val p50 = graft.metrics.Telemetry.median(ds)
          val p95 = if (ds.isEmpty) 0.0 else ds(math.min(ds.size - 1,
            math.ceil(ds.size * 0.95).toInt - 1))
          annServeP.getOrElseUpdate(c,
            scala.collection.mutable.ArrayBuffer.empty) += p50
          println(f"[sweep] c=$c%3d ann_serve trigger p50=$p50%.3f s p95=$p95%.3f s triggers=${ds.size}")
          val served = spark.read.parquet(s"$base/ledger")
            .select("batch_id").distinct().count()
          scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
          served
        }
      }
      telem.foreach { t =>
        t.stop()
        try t.writeCsv(s"target/sweep-timeline-${c}x.csv")
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[sweep] timeline write failed: $e") }
      }
      telem = None
    }

    // the serving flatness verdict: per-trigger p50 must not grow with
    // stream length (a growing p50 means per-batch cost depends on
    // accumulated state — the exact failure a serving deployment hits)
    if (annServeP.size >= 2) {
      val med = annServeP.map { case (cc, ps) =>
        cc -> graft.metrics.Telemetry.median(ps.toSeq)
      }
      val (minC, minP) = med.minBy(_._1)
      val (maxC, maxP) = med.maxBy(_._1)
      val ratio = if (minP > 0) maxP / minP else Double.NaN
      println(f"[sweep] ann_serve per-trigger p50 (median per scale): " +
        f"c=$minC $minP%.3f s -> c=$maxC $maxP%.3f s ratio=$ratio%.2f " +
        (if (ratio < 2.0) "FLAT" else "DEGRADED"))
    }
    // ln-ln least-squares slope of wall time vs scale per family: the
    // growth exponent the 100 TB claims rest on
    println("family,scales,times_sec,counts,exponent")
    results.foreach { case (family, m) =>
      val pts = m.toSeq.map { case (cc, (sec, _)) => (math.log(cc), math.log(sec)) }
      val n = pts.length
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val slope =
        if (n < 2 || sxx * n - sx * sx == 0) Double.NaN
        else (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val times = m.toSeq.map { case (_, (s, _)) => f"$s%.2f" }.mkString("|")
      val counts = m.toSeq.map(_._2._2).mkString("|")
      println(f"$family,${m.keys.mkString("|")},$times,$counts,$slope%.2f")
    }
    spark.stop()
  }
}
