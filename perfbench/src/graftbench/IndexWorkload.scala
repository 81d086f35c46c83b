package graftbench

import graft.operators.Bm25
import graft.sources.Layouts
import graft.streaming.StreamBm25
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `index`: writes beside reads on one BM25 index. Set-up builds the
  * index over the seeded base half and starts a live StreamBm25 serve;
  * the warm-up appends batch 0 and serves one query. The loop first
  * retracts batch 0, migrates the index to managed generations and
  * compacts it, then cycles: append the next batch, probe twice through
  * Bm25.topK / topKChampions, serve one query file through the stream
  * (its terms then probed again). Slices grow again after the compaction.
  */
final class IndexWorkload(run: Run, in: Inputs.Index) extends Workload {
  import run.spark
  import IndexWorkload._

  private val docsPath = s"${run.work}/docs"
  private val queryFiles = s"${run.work}/queries"
  private def home(a: Int) = s"${run.work}/idx-$a"
  private var dir = ""
  private def index = s"$dir/index"
  private var stream: Option[StreamingQuery] = None
  private var batchesServed = 0

  private val tokens: Map[Long, Map[String, Long]] = in.docs.map { d =>
    d.id -> d.text.split(" ").groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
  }.toMap
  private val textBytes: Map[Int, Long] = in.docs.groupBy(_.part)
    .map { case (p, ds) => p -> ds.map(_.text.getBytes("UTF-8").length.toLong).sum }
  private var live: Set[Int] = Set(-1)

  private var written = 0L
  private var appended = 0L
  /** Write and space amplification, taken when the fixed write schedule
    * (append b0, retract b0, manage + compact) is done, so they are exact
    * for a seed however many loop appends follow.
    */
  private var writeAmp = 0.0
  private var spaceAmp = 0.0
  private val buildMs = collection.mutable.ArrayBuffer.empty[Double]
  private val startMs = collection.mutable.ArrayBuffer.empty[Double]

  Data.docs(spark, in.docs, docsPath)
  locally {
    import spark.implicits._
    in.served.zipWithIndex.flatMap { case (ts, q) => ts.map(t => (q, q.toLong, t)) }
      .toDF("q", "query_id", "term").repartition(col("q"))
      .write.partitionBy("q").parquet(queryFiles)
  }

  private def docs(part: Int): DataFrame =
    spark.read.parquet(docsPath).where(col("part") === part).select("doc_id", "text")

  def setup(attempt: Int): Unit = {
    dir = home(attempt)
    buildMs += run.timeMs(Layouts.bm25Index(docs(-1), index))._2
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/landing"))
    startMs += run.timeMs {
      stream = Some(StreamBm25.serve(spark, s"$dir/landing", index, s"$dir/ledger", s"$dir/ckpt"))
    }._2
    batchesServed = 0
    live = Set(-1)
  }

  def dropSetup(attempt: Int): Unit = {
    stream.foreach(_.stop())
    run.delete(home(attempt))
  }

  /** BM25 top-k over the live docs, computed here from the raw texts with
    * the program's scoring formula in the same floating-point order:
    * (term, rank, doc_id, tf, dl, score) rows sorted by term and rank.
    * `champions` first cuts each term to its top-C postings by
    * (tf desc, doc_id), as the persisted champion tier does.
    */
  private def model(terms: Seq[String], champions: Boolean, k: Int = 10): Seq[Row] = {
    val docs = in.docs.filter(d => live.contains(d.part)).map(_.id)
    val dl = docs.map(d => d -> tokens(d).values.sum).toMap
    val n = docs.size.toLong
    val total = dl.values.sum
    val avgdl = total.toDouble / n
    terms.distinct.sorted.flatMap { t =>
      val post = docs.flatMap(d => tokens(d).get(t).map(tf => (d, tf)))
      val df = post.size.toLong
      val tier = if (champions) post.sortBy { case (d, tf) => (-tf, d) }.take(Champions) else post
      tier.map { case (d, tf) =>
        val s = ((n - df).toDouble + 0.5) / (df.toDouble + 0.5) *
          ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl(d).toDouble / avgdl))))
        (d, tf, s)
      }.sortBy { case (d, _, s) => (-s, d) }.take(k).zipWithIndex.map { case ((d, tf, s), r) =>
        Row(t, r + 1, d, tf, dl(d), s)
      }
    }
  }

  private def sameRows(got: Seq[Row], want: Seq[Row]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.getString(0) == w.getString(0) && g.getInt(1) == w.getInt(1) &&
        g.getLong(2) == w.getLong(2) && g.getLong(3) == w.getLong(3) &&
        g.getLong(4) == w.getLong(4) &&
        math.abs(g.getDouble(5) - w.getDouble(5)) <= 1e-9 * math.abs(w.getDouble(5))
    }

  /** (term, rank, doc_id, tf, dl, score) rows — the column order of a
    * probe's own output, collected from the probe's Dataset itself so its
    * executed plan carries the scan metrics.
    */
  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.map(r => Row.fromSeq(r.toSeq.take(6))).sortBy(r => (r.getString(0), r.getInt(1)))

  private def liveFiles(): Double =
    Seq("postings", "deltas", "champions").map { t =>
      Disk.scan(Layouts.indexRoot(s"$index/$t")).count(_.parquet)
    }.sum.toDouble

  private var probes = 0
  private var lastServed: Seq[Row] = Nil

  private def probe(p: Inputs.Probe, ledger: Option[Seq[Row]] = None): Unit = {
    val files = if (run.opts.trace) liveFiles() else 0.0
    run.op("probe") { o =>
      val df = run.span("operators.build") {
        if (p.champions) Bm25.topKChampions(spark, index, p.terms)
        else Bm25.topK(spark, index, p.terms)
      }
      if (o.traced) run.span("driver.plan") { df.queryExecution.executedPlan }
      val got = run.span("spark.collect") { rows(df) }
      run.tracer.stop(o)
      if (o.traced) {
        val (nf, scanMs, metaMs) = Plans.scanMetrics(df.queryExecution.executedPlan)
        o.counts ++= Seq("scan.files" -> nf, "scan.time_ms" -> scanMs,
          "scan.metadata_ms" -> metaMs, "layouts.index_files" -> files)
      }
      val want = model(p.terms, p.champions)
      val planted = if (run.plantNow()) want.drop(1) else want
      sameRows(got, planted) && ledger.forall(sameRows(_, got))
    }
  }

  /** Land query file `q` in the stream's input directory and wait for the
    * micro-batch that serves it to commit.
    */
  private def serve(q: Int): Unit = {
    val batch = batchesServed
    batchesServed += 1
    val src = new java.io.File(s"$queryFiles/q=$q").listFiles().find(_.getName.endsWith(".parquet")).get
    val commit = new java.io.File(s"$dir/ckpt/commits/$batch")
    val o = run.op("serve") { o =>
      java.nio.file.Files.copy(src.toPath, java.nio.file.Paths.get(s"$dir/landing.tmp-$q"))
      o.t0 = System.nanoTime()
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/landing.tmp-$q"),
        java.nio.file.Paths.get(s"$dir/landing/q-$q.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val deadline = System.nanoTime() + 60e9.toLong
      while (!commit.exists()) {
        stream.foreach(s => s.exception.foreach(e => throw e))
        require(System.nanoTime() < deadline, s"served batch $batch did not commit in 60 s")
        java.util.concurrent.locks.LockSupport.parkNanos(200000L)
      }
      run.tracer.stop(o)
      o.counts("stream.batch") = batch.toDouble
      lastServed = rows(spark.read.parquet(s"$dir/ledger").where(col("batch_id") === batch)
        .select("term", "rank", "doc_id", "tf", "dl", "score"))
      sameRows(lastServed, model(in.served(q), champions = false))
    }
    if (o.ok) probe(Inputs.Probe(in.served(q), champions = false), Some(lastServed))
  }

  /** A layout call, with what it newly wrote under the index root. */
  private def layout(kind: String)(call: => Unit): Unit = {
    val before = Disk.scan(index)
    run.op(kind) { o =>
      run.span(s"layouts.$kind")(call)
      run.tracer.stop(o)
      val fresh = Disk.written(before, Disk.scan(index))
      written += fresh.map(_.bytes).sum
      o.counts ++= Seq("layouts.files_written" -> fresh.count(_.parquet).toDouble,
        "layouts.written_mb" -> fresh.map(_.bytes).sum / 1e6,
        "layouts.index_mb" -> Disk.bytes(index) / 1e6)
      true
    }
  }

  private var served = 0

  private def nextProbe(): Unit = {
    probe(in.probes(probes % in.probes.size))
    probes += 1
  }

  private def nextServe(): Unit = {
    serve(served % in.served.size)
    served += 1
  }

  private def append(b: Int): Unit = {
    layout("append") { Layouts.bm25Append(docs(b), index, batchId = Some(s"b$b")) }
    appended += textBytes.getOrElse(b, 0L)
    live += b
  }

  /** Append batch 0 (retracted again by the loop's first step) and serve
    * one query, so the append, probe and serve paths are warm.
    */
  def warmup(): Unit = {
    append(0)
    nextServe()
  }

  private def compact(): Unit = {
    layout("manage") { Layouts.manageBm25(index) }
    layout("compact") { Layouts.bm25Compact(index) }
    writeAmp = written.toDouble / appended
    spaceAmp = Disk.bytes(index).toDouble / live.toSeq.map(textBytes.getOrElse(_, 0L)).sum
  }

  private var nextBatch = 1

  /** The next batch, or — once every batch is in — a probe. */
  private def nextAppend(): Unit =
    if (nextBatch < in.batches) { append(nextBatch); nextBatch += 1 } else nextProbe()

  private val writes: IndexedSeq[() => Unit] = IndexedSeq(
    () => { layout("retract") { Layouts.bm25Retract(index, "b0") }; live -= 0 },
    () => compact())
  private val loop: IndexedSeq[() => Unit] =
    IndexedSeq(() => nextAppend(), () => nextProbe(), () => nextProbe(), () => nextServe())

  def step(r: Int): Unit =
    if (r < writes.size) writes(r)() else loop((r - writes.size) % loop.size)()

  /** Two cycles (about 18 s) always run, so a slow host does not cut a
    * run to one cycle and change which ops its medians are taken over.
    */
  def minSteps: Int = writes.size + 2 * loop.size
  def cycle: Int = loop.size
  val headline = "probe"
  def second: Seq[Double] = run.ms("append")

  /** The maintained index must answer like one built from scratch over
    * the surviving batches.
    */
  override def finish(): Unit = {
    stream.foreach(_.stop())
    run.op("final_check") { _ =>
      val scratch = s"${run.work}/scratch-index"
      Layouts.bm25Index(live.toSeq.map(docs).reduce(_ unionByName _), scratch)
      // one plain and one champion probe
      in.probes.take(2).forall { p =>
        val a = if (p.champions) Bm25.topKChampions(spark, index, p.terms) else Bm25.topK(spark, index, p.terms)
        val b = if (p.champions) Bm25.topKChampions(spark, scratch, p.terms) else Bm25.topK(spark, scratch, p.terms)
        sameRows(rows(a), rows(b))
      }
    }
  }

  def summary: Seq[(String, Double, String)] = {
    val s = run.ms("serve")
    Seq(("probe_p50_ms", Stats.median(run.ms("probe")), "ms"),
      ("serve_p50_ms", Stats.median(s), "ms"),
      ("append_p50_ms", Stats.median(run.ms("append")), "ms"),
      ("write_amp", writeAmp, "ratio"),
      ("space_amp", spaceAmp, "ratio")) ++ Main.p90("serve_p90_ms", s)
  }

  override def layers: Map[String, Double] = Map(
    "layouts.build_ms" -> Stats.median(buildMs.toSeq),
    "stream.start_ms" -> Stats.median(startMs.toSeq))
}

object IndexWorkload {
  /** bm25Index's default champion-tier width. */
  val Champions = 50
}
