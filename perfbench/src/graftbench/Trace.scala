package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One timed operation of the closed loop. `traced` ops carry spans and
  * listener counts; every op carries its wall time and its verdict.
  */
final class Op(val id: Int, val kind: String, val traced: Boolean) {
  var t0: Long = 0L
  var t1: Long = 0L
  var ok: Boolean = false
  var error: String = ""
  /** Counts the benchmark reads at the layer boundary (bytes planned,
    * ranges read, files written, ...), keyed by per-layer metric name.
    */
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (t1 - t0) / 1e6
}

final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Long, t1: Long)

/** Spans around the benchmark's own calls into each layer. Single client
  * thread, so the open-span stack is a plain list. When the current op is
  * untraced, [[span]] only runs its body.
  */
final class Tracer {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var current: Option[Op] = None

  /** Wall clock alignment: listener events carry epoch millis. */
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def group(op: Op): String = s"perfbench-op-${op.id}"

  /** Run `body` as op `kind`: its root span, its job group, its verdict.
    * `body` returns whether the op's output was correct; an exception is
    * a failed op.
    */
  def op(kind: String, traced: Boolean)(body: Op => Boolean)(
      implicit spark: org.apache.spark.sql.SparkSession): Op = {
    val o = new Op(ops.size, kind, traced)
    ops += o
    current = Some(o)
    val sc = spark.sparkContext
    sc.setJobGroup(group(o), kind)
    codegen0 = CodeGenerator.compileTime
    o.t0 = System.nanoTime()
    try {
      span(kind) { o.ok = body(o) }
    } catch {
      case e: Throwable =>
        o.ok = false
        o.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
    } finally {
      stop(o)
      sc.clearJobGroup()
      current = None
    }
    System.err.println(f"perfbench: op ${o.id}%d $kind%s ${o.ms}%.1f ms" +
      (if (o.ok) "" else s" FAILED ${o.error}"))
    o
  }

  /** End the current op's timed window before the untimed checks that
    * follow it in `body`.
    */
  def stop(o: Op): Unit = if (o.t1 == 0L) {
    o.t1 = System.nanoTime()
    if (o.traced) o.counts("driver.codegen_ms") = (CodeGenerator.compileTime - codegen0) / 1e6
  }

  /** Janino compile time is a JVM-wide counter (ns); its delta over the
    * op's window is the op's codegen cost.
    */
  private var codegen0 = 0L

  def span[A](name: String)(body: => A): A = current match {
    case Some(o) if o.traced =>
      val id = spans.size
      spans += Span(id, stack.headOption.getOrElse(-1), o.id, name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(t1 = System.nanoTime())
      }
    case _ => body
  }

  /** Self time per span: its duration minus the union of its children. */
  def selfMs: Map[Int, Double] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(k => (k.t0.toDouble, k.t1.toDouble)).toSeq)
      s.id -> (s.t1 - s.t0 - covered) / 1e6
    }.toMap
  }
}

/** Stage-level task metrics, tagged with the job group that ran them. */
final case class StageRec(stageId: Int, jobId: Int, group: String, jobStartMs: Long,
    submitMs: Long, doneMs: Long, tasks: Int, runMs: Long, cpuMs: Double, gcMs: Long,
    recordsRead: Long, shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long)

/** SparkListener for the traced run: job → group and stage → job maps,
  * and one [[StageRec]] per completed stage.
  */
final class SparkProbe extends SparkListener {
  private val jobGroup = mutable.Map.empty[Int, (String, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  val stages: mutable.ArrayBuffer[StageRec] = mutable.ArrayBuffer.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val job = stageJob.getOrElse(i.stageId, -1)
    val (g, jt) = jobGroup.getOrElse(job, ("", 0L))
    if (m != null) stages += StageRec(i.stageId, job, g, jt,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
      m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime)
  }
}

/** One streaming micro-batch as its progress event reports it. */
final case class Batch(id: Long, triggerStartMs: Long, durations: Map[String, Long])

/** StreamingQueryListener for the traced run: per-batch phase durations. */
final class StreamProbe extends StreamingQueryListener {
  val batches: mutable.ArrayBuffer[Batch] = mutable.ArrayBuffer.empty
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    batches += Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
}

/** Scan-node SQLMetrics of an executed (possibly adaptive) plan. */
object Plans {
  /** Every node, looking through adaptive wrappers and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  /** (files, scan ms, metadata ms) summed over the plan's file scans. */
  def scanMetrics(p: SparkPlan): (Double, Double, Double) = {
    val scans = nodes(p).collect { case s: FileSourceScanExec => s }
    def m(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "scanTime")).sum,
      scans.map(m(_, "metadataTime")).sum)
  }
}
