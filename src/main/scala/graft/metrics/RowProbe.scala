package graft.metrics

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** The one per-row measurement: what [[graft.Bench]] bills each row and
  * what [[graft.tools.Profile]] prints, so a tool's number and a bench
  * row's number are the same measurement.
  *
  * [[run]] starts clean (drops cached tables, collects garbage, resets the
  * RSS high-water mark), then takes wall, process CPU, GC time and the
  * classes compiled around the body, drains the listener bus so straggler
  * task-end events bill to this row and not the next, and reads the row's
  * own weather sample (the median spin during exactly this phase, 0.0
  * when the row outran the 1 Hz tick). A recoverable failure (NonFatal)
  * becomes `failed = true`; an OOM or VM error propagates, so a run can
  * never end short and read as a speedup.
  *
  * Two listeners live as long as the probe: one sums task-end input,
  * output and shuffle-write bytes and keeps a row per completed stage; one
  * keeps the progress of every trigger that read input (the zero-input
  * tail poll `processAllAvailable` drains on is excluded).
  */
final class RowProbe(spark: SparkSession, telem: Telemetry) extends AutoCloseable {
  import RowProbe._

  private val inputBytes = new AtomicLong
  private val outputBytes = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val triggers = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val listener = new SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(0L)
      stages.add(Stage(i.name.linesIterator.nextOption().getOrElse(""), wall,
        m.executorRunTime, m.executorCpuTime / 1000000, i.numTasks,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6,
        m.inputMetrics.bytesRead / 1e6))
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) triggers.add(e.progress)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Measure `body` as one row labelled `label` (also the timeline mark). */
  def run(label: String)(body: => Unit): Row = {
    spark.sharedState.cacheManager.clearCache()
    System.gc()
    telem.mark(label)
    telem.resetRssMax()
    drain()
    inputBytes.set(0L)
    outputBytes.set(0L)
    shuffleBytes.set(0L)
    stages.clear()
    triggers.clear()
    val g0 = Telemetry.gcMillis()
    val (n0, cg0) = codegen()
    val c0 = Telemetry.osBean.getProcessCpuTime
    val phaseFrom = telem.nowSec
    val t0 = System.nanoTime()
    val failed =
      try { body; false }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[probe] $label FAILED: $e"); true
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Telemetry.osBean.getProcessCpuTime - c0) / 1e9
    val (n1, cg1) = codegen()
    drain()
    Row(wall, cpu, math.max(telem.rssMaxMilliMb.get() / 1000.0, Telemetry.rssMb()),
      inputBytes.get() / 1e6, outputBytes.get() / 1e6, shuffleBytes.get() / 1e6,
      (Telemetry.gcMillis() - g0) / 1e3, failed,
      telem.spinMedian(phaseFrom, telem.nowSec),
      stages.asScala.toSeq, triggers.asScala.toSeq, n1 - n0, (cg1 - cg0) / 1e6)
  }

  /** Listener events post asynchronously: wait until every queued event
    * has been delivered. Bounded (Spark's 10 s), so a query left running
    * in the background cannot stall the run.
    */
  private def drain(): Unit =
    try org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    catch { case _: java.util.concurrent.TimeoutException => }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}

object RowProbe {

  /** (classes compiled, compile ns) so far in this JVM. Both grow only on
    * a miss of Spark's generated-class cache; the count is deterministic
    * for a given plan sequence, the time is not.
    */
  def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** One completed stage: wall span, executor run and CPU time (ms), task
    * count, shuffle written and read and input read (MB), and the first
    * line of its call site.
    */
  final case class Stage(name: String, wallMs: Long, runMs: Long, cpuMs: Long,
      tasks: Int, shuffleWriteMb: Double, shuffleReadMb: Double, inputMb: Double)

  /** One measured row. `triggers` holds the progress of every trigger that
    * read input, in completion order; `compiles` and `codegenMs` are the
    * classes Spark generated and compiled during the row, and their
    * compile time ([[codegen]] deltas).
    */
  final case class Row(wallSec: Double, cpuSec: Double, rssMaxMb: Double,
      inputMb: Double, outputMb: Double, shuffleMb: Double, gcSec: Double,
      failed: Boolean, spinMedMops: Double,
      stages: Seq[Stage], triggers: Seq[StreamingQueryProgress],
      compiles: Long, codegenMs: Double) {
    /** Each trigger's `triggerExecution` time, in seconds. */
    def triggerSecs: Seq[Double] =
      triggers.flatMap(p => Option(p.durationMs.get("triggerExecution"))).map(_.toDouble / 1e3)
  }

  /** Release the blocks behind a `localCheckpoint`ed DataFrame. They live
    * behind its LogicalRDD, not in the cache [[RowProbe.run]] clears, so
    * without this one rep's or one scale's checkpoint bills its heap
    * pressure to the next. A no-op when the plan holds no LogicalRDD.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
    }
}
