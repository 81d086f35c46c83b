package graftbench

import graft.GraftSession
import graft.metrics.Telemetry

/** One benchmark run: generate the seed's inputs, set up (repeatedly,
  * timed), warm up, run the closed loop for `--seconds`, check, and print
  * the result as the last stdout line.
  *
  * With `--trace 0` the result carries the end-to-end metrics; with
  * `--trace 1` it carries the per-layer metrics of the traced ops.
  */
object Main {

  /** A p90 is reported only when ≥100 samples put ≥10 beyond it. */
  def p90(name: String, xs: Seq[Double]): Seq[(String, Double, String)] =
    if (xs.size >= 100) Seq((name, Stats.quantile(xs, 0.9), "ms")) else Nil

  /** New steps stop starting after this much JVM uptime, so a run ends
    * well inside its time limit even on a slow host.
    */
  val UptimeCapS = 120.0

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** local[k] with k = min(4, cores of the host). */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  private def uptime = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Phase boundaries go to stderr (the run log), by JVM uptime. */
  private def phase(name: String): Unit = System.err.println(f"perfbench: $name%s done at $uptime%.1f s")

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val (digest, make): (String, Run => Workload) = opts.workload match {
      case "scan" =>
        val in = Inputs.scan(opts.seed, opts.scale)
        (Inputs.digestOf(in), new ScanWorkload(_, in))
      case "index" =>
        val in = Inputs.index(opts.seed, opts.scale)
        (Inputs.digestOf(in), new IndexWorkload(_, in))
      case w => throw new IllegalArgumentException(s"unknown workload '$w' (scan, index)")
    }
    println(Stats.obj(Seq("inputs" -> Stats.obj(Seq("workload" -> Stats.str(opts.workload),
      "seed" -> opts.seed.toString, "scale" -> Stats.num(opts.scale), "digest" -> Stats.str(digest))))))
    if (opts.digestOnly) return

    val spark = GraftSession.build("perfbench", Cores, Map(
      "spark.local.dir" -> s"${opts.work}/spark-local",
      "spark.sql.warehouse.dir" -> s"${opts.work}/warehouse"))
    val telemetry = new Telemetry().start()
    val run = new Run(opts, spark)
    val sparkProbe = new SparkProbe
    val streamProbe = new StreamProbe
    if (opts.trace) {
      spark.sparkContext.addSparkListener(sparkProbe)
      spark.streams.addListener(streamProbe)
    }

    phase("session")
    val w = make(run)
    phase("inputs")
    val setupS = (0 until Setups).map { a =>
      if (a > 0) w.dropSetup(a - 1)
      run.timeMs(w.setup(a))._2 / 1000
    }
    phase("setup")
    w.warmup()
    phase("warmup")

    val host0 = Host.sample()
    val gc0 = Telemetry.gcMillis()
    telemetry.resetRssMax()
    val spin0 = telemetry.nowSec
    run.measuring = true
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var steps = 0
    while (steps < w.minSteps || (steps - w.minSteps) % w.cycle != 0 ||
        (elapsed < opts.seconds && uptime < UptimeCapS)) {
      w.step(steps)
      steps += 1
    }
    val windowS = elapsed
    run.measuring = false
    val host1 = Host.sample()
    val gcMs = (Telemetry.gcMillis() - gc0).toDouble
    val spin = telemetry.spinMedian(spin0, telemetry.nowSec)
    phase("measure")
    w.finish()
    phase("finish")
    telemetry.stop()

    val ops = run.tracer.ops
    val failed = ops.count(!_.ok)
    val weather = Seq(
      ("host.steal_pct", telemetry.summary._3, "pct"),
      ("host.spin_mops", spin, "Mops"),
      ("host.other_cores", Host.otherCores(host0, host1), "cores"),
      ("jvm.rss_peak_mb", telemetry.rssMaxMilliMb.get / 1000.0, "MB"),
      ("jvm.gc_ms", gcMs, "ms"))
    val endToEnd = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("op_p50_ms", Stats.median(run.ms(w.headline)), "ms"),
      ("op2_p50_ms", Stats.median(w.second), "ms"),
      ("ops_per_s", run.timed.size / windowS, "1/s"))
    val named = Seq(("setup_s", Stats.median(setupS), "s"),
      ("failed_frac", failed.toDouble / ops.size, "ratio")) ++ w.summary
    val samples = run.timed.groupBy(_.kind).map { case (k, os) => k -> os.size.toString }
    println(Stats.obj(Seq(
      "workload" -> Stats.str(opts.workload),
      "seed" -> opts.seed.toString,
      "trace" -> opts.trace.toString,
      "steps" -> steps.toString,
      "window_s" -> Stats.num(windowS),
      "samples" -> Stats.obj(samples.toSeq.sortBy(_._1)),
      "setup_runs_s" -> setupS.map(Stats.num).mkString("[", ", ", "]"),
      "session" -> Stats.obj(Seq("master" -> Stats.str(spark.sparkContext.master),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"))),
      "named" -> Stats.metrics(named),
      "weather" -> Stats.metrics(weather))))
    ops.filterNot(_.ok).foreach(o => println(Stats.obj(Seq(
      "failed_op" -> o.id.toString, "kind" -> Stats.str(o.kind), "error" -> Stats.str(o.error)))))

    val metrics =
      if (!opts.trace) endToEnd
      else {
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        val layers = new Layers(run, w, sparkProbe, streamProbe)
        if (opts.traceOut.nonEmpty) layers.write(opts.traceOut)
        layers.metrics ++ weather
      }
    spark.stop()
    println(Stats.obj(Seq("correct" -> (failed == 0).toString, "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Stats.metrics(metrics))))
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }
}

/** Box-wide CPU accounting from /proc/stat, for the other-process load
  * label: busy cores on the box minus this JVM's own cores.
  */
object Host {
  final case class Sample(wallNs: Long, busy: Long, total: Long, cpus: Int, ownNs: Long)

  def sample(): Sample = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
    val f = lines.get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
    var cpus = 0
    lines.forEach(l => if (l.matches("cpu\\d+ .*")) cpus += 1)
    Sample(System.nanoTime(), f.sum - f(3) - f(4), f.sum, cpus, Telemetry.osBean.getProcessCpuTime)
  }

  def otherCores(a: Sample, b: Sample): Double = {
    val total = (b.total - a.total).toDouble
    if (total <= 0) 0.0
    else (b.busy - a.busy) / total * b.cpus - (b.ownNs - a.ownNs).toDouble / (b.wallNs - a.wallNs)
  }
}
