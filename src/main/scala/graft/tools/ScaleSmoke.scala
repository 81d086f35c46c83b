package graft.tools

import graft.GraftSession
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** 10× scale rehearsal for the dedup path: replicate the sf0.1 documents
  * table 10 times (offset ids — every text becomes a 10-way duplicate
  * group, the worst realistic case for candidate-pair volume) and time
  * exact + MinHash dedup. The question answered empirically: does the
  * LSH candidate stage stay bounded when true-duplicate density explodes,
  * or does pair volume blow up quadratically?
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val copies = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.build("graft-scalesmoke", cores = 8)
    val base = GraftSession.table(spark, sfDir, "documents").select("doc_id", "text")
    val n0 = base.count()
    val big = (0 until copies)
      .map(i => base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionAll _)

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    println(s"[scale] corpus: ${n0 * copies} docs ($copies x $n0)")
    val groups = time("exact dedup")(
      Dedup.exact(big).where(col("n_dups") >= copies).count())
    println(s"[scale] full-copy duplicate groups: $groups (expect ~$n0)")
    val pairDf = Dedup.minhashNearDups(big, k = 16, bands = 8, shingleN = 3, threshold = 0.5)
    val pairs = time("minhash near-dups")(pairDf.count())
    val expected = n0 * copies * (copies - 1) / 2
    println(s"[scale] near-dup pairs: $pairs (>= $expected from replication alone)")
    // EXACT jaccard via lossless prefix filtering (x92's truth leg): under
    // c-way replication every duplicate group meets through shared prefix
    // elements, so candidate volume tracks TRUE pair volume (~c²/2 per
    // group), never n² — the same curve shape as banded LSH but with exact
    // output. This is the production exact-verification path at 100 TB.
    val exactPairs = time("exact jaccard pairs (prefix filter)")(
      Dedup.exactJaccardSelfPairs(
        Dedup.minhashSignature(big, k = 16, shingleN = 3)
          .select(col("doc_id"), col("shingles")),
        threshold = 0.5).count())
    println(s"[scale] exact jaccard pairs: $exactPairs (>= $expected)")
    // components over the replicated pair graph: every text's copies form
    // one dense cluster, so vertex count ≈ docs and rounds stay at the
    // cluster diameter (1-2) — the shape a 100 TB dedup graph has
    val comp = time("connected components")(
      graft.operators.Components.connectedComponents(pairDf.localCheckpoint(true)))
    val clusters = comp.select("rep_id").distinct().count()
    println(s"[scale] components: ${comp.count()} vertices in $clusters clusters")
    // as-of join at events scale: replicate events the same way
    val ev = GraftSession.table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), expr("ts div 1000").as("tsu"))
    val bigEv = (0 until copies)
      .map(i => ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
        (col("user_id") + lit(i * 1000L)).as("user_id"), col("event_type"), col("tsu")))
      .reduce(_ unionAll _)
    val clicks = bigEv.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("tsu").as("click_us"))
    val purchases = bigEv.where(col("event_type") === "purchase")
      .select(col("event_id").as("purch_id"), col("user_id"), col("tsu").as("purch_us"))
    val asof = time("as-of join")(
      graft.operators.AsOfJoin.lastPrior(clicks, purchases, "user_id",
        "click_us", "purch_us", Seq("purch_id"), "purch_id").count())
    println(s"[scale] as-of rows: $asof (one per click)")

    // retrieval at scale (x87/x101): posting-index BUILD is the one-time
    // corpus-linear cost; the per-query PROBE must stay near-constant as
    // the corpus grows — that split is the whole case for persisting it
    val pat = "table part"
    val tris = (0 to pat.length - 3).map(i => pat.substring(i, i + 3)).distinct
    val idxDir = java.nio.file.Files.createTempDirectory("scale-posting").toString
    time("posting index build")(
      graft.sources.Layouts.postingIndex(big, idxDir, partitions = 8))
    val posting = spark.read.parquet(
      graft.sources.Layouts.indexRoot(idxDir)(spark))
    val candsProbe = posting.where(col("tri").isin(tris: _*))
      .groupBy("doc_id").agg(countDistinct("tri").as("nt"))
      .where(col("nt") === tris.size)
    val nCands = time("posting probe (candidates)")(candsProbe.count())
    val hits = time("posting probe + verify")(
      candsProbe.join(big, "doc_id").where(col("text").contains(pat)).count())
    println(s"[scale] substring search: $nCands candidates, $hits verified hits")

    // boilerplate chunk fingerprints (x96's 16-token chunks): one explode +
    // two hash-shuffles; replication multiplies every chunk's cross-corpus
    // frequency by `copies`, so the cost curve is the corpus-linear explode
    // plus a map-side-combined count — no pair volume anywhere
    val chunkFp = graft.functions.TextFunctions
      .fingerprintExpr("concat_ws(' ', slice(toks, i * 16 + 1, 16))")
    val chunks = big
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 16)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST(size(toks) / 16 AS INT) - 1), i -> $chunkFp)"))
        .as("fp"))
    val hot = time("boilerplate chunk fingerprints")(
      chunks.groupBy("fp").agg(countDistinct("doc_id").as("nd"))
        .where(col("nd") >= copies).count())
    println(s"[scale] boilerplate: $hot chunks shared by >= $copies docs")

    // BPE merge induction (x110): the only corpus-linear cost is the ONE
    // word-count scan feeding the checkpointed (word, freq) table; all
    // three pair-count→argmax→fold rounds run on the ~31-type vocabulary,
    // so this timing must stay ~flat in `copies` beyond that scan
    val words = big.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val (m1, m2, m3, _) = graft.queries.ExtensionCatalog.bpeRoundsFromWords(words)
    val merges = time("bpe merge induction (3 rounds)")(
      m1.unionAll(m2).unionAll(m3).collect())
    println(s"[scale] bpe merges: " +
      merges.map(r => s"${r.getString(0)}+${r.getString(1)}(${r.getLong(2)})").mkString(", "))

    // content-defined chunk dedup (x121): per-doc HOF chunking is
    // corpus-linear and shuffle-free; the one exchange is the chunk-hash
    // aggregate with map-side combine. Replication multiplies every chunk's
    // count by `copies`, so stored tokens stay ~base while total grows
    // linearly — the ratio itself proves the dedup found the copies
    val cdc = time("cdc chunk dedup")(
      graft.queries.ExtensionCatalog.cdcChunks(big)
        .groupBy("h").agg(sum("len").as("sumlen"), min("len").as("minlen"))
        .agg(sum("sumlen").as("total"), sum("minlen").as("stored"))
        .collect().head)
    println(s"[scale] cdc chunks: total_tokens=${cdc.getLong(0)} " +
      s"stored_tokens=${cdc.getLong(1)} (expect stored ~ total/$copies)")

    // dup-span coverage (x123): overlapping 8-token windows explode ~one
    // row per token — corpus-linear — then one window-hash count shuffle.
    // Under replication every window repeats, so coverage saturates at ~all
    // tokens; the timing curve is the explode + count cost, no pair volume
    val wins = graft.queries.ExtensionCatalog.dupSpanWindows(big)
    val winCounts = wins.groupBy("fp").agg(count(lit(1)).as("cnt"))
    val dupWins = time("dup-span coverage")(
      wins.join(winCounts.where(col("cnt") > 1), "fp").count())
    println(s"[scale] dup-span: $dupWins duplicated window occurrences")

    // SemDeDup (x122): centroids come from the BASE table only (bounded,
    // broadcast); replication grows each cell linearly, so the within-cell
    // pair term grows ~copies^2 — this curve is the honest demonstration
    // that cluster size bounds the quadratic cost, and that at 100 TB you
    // control it by adding centroids (smaller cells), not by fencing
    val bigEmb = (0 until copies)
      .map(i => GraftSession.table(spark, sfDir, "embeddings")
        .select((col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionAll _)
    val cents = GraftSession.table(spark, sfDir, "embeddings")
      .where(col("vec_id") % 50 === 0).select("vec_id", "embedding")
    val semDropped = time("semdedup (within-cell pairs)")(
      graft.operators.SimilaritySearch.semDedup(bigEmb, cents, tau = 0.25)
        .where(col("dropped")).count())
    println(s"[scale] semdedup: $semDropped dropped " +
      s"(cells ~${copies}x base size -> pair term ~${copies * copies}x)")

    // incremental ingest (x115/x117): a FIXED shard (the base table; even
    // ids arrive as exact copies, odd ids with one appended token → near
    // dups) against the replicated corpus behind a persisted minhashIndex.
    // Index build is corpus-linear and paid once per release; the per-batch
    // probe must track the SHARD + candidate volume, not the corpus
    val shard = base.select((col("doc_id") + lit(900000000L)).as("doc_id"),
      when(col("doc_id") % 2 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" xtra"))).as("text"))
    val mhDir = java.nio.file.Files.createTempDirectory("scale-mhidx").toString
    time("minhash index build")(
      graft.sources.Layouts.minhashIndex(big, mhDir, partitions = 8))
    val mhRoot = graft.sources.Layouts.indexRoot(mhDir)(spark)
    val ledger = time("ingest probe (classify shard)")(
      graft.operators.Dedup.incrementalDedupStaged(shard,
        spark.read.parquet(s"$mhRoot/fp"),
        spark.read.parquet(s"$mhRoot/banded"),
        spark.read.parquet(s"$mhRoot/shingles"))
        .groupBy("status").count().collect())
    println(s"[scale] ingest ledger: " +
      ledger.map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", "))
    spark.stop()
  }
}
