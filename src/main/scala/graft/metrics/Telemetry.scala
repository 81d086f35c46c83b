package graft.metrics

/** 1 Hz process/host sampler — the `utils/benchmark.sh` analog (the
  * reference samples cpu, ram, disk utilization and net rx/tx at 1 Hz,
  * utils/benchmark.sh:3-18,32-110) — shared by [[graft.Bench]] (one
  * run-long CSV) and [[graft.tools.ScaleSweep]] (one CSV per scale point),
  * so a noisy wall-clock number can be explained from phase data (was the
  * slow interval CPU-bound or shuffle/disk-bound?) instead of rerun
  * folklore.
  *
  * Columns:
  * `sec,cpu_pct,rss_mb,disk_util_pct,net_rx_mbps,net_tx_mbps,steal_pct,gc_pct,spin_mops`.
  * `disk_util_pct` is the io-tick share of the BUSIEST block device
  * (/proc/diskstats field 13 — summing across devices would overstate a
  * RAID stripe; max answers "was any spindle saturated").
  * `net_*_mbps` sums every interface including loopback, which carries the
  * shuffle/probe traffic on a single-node harness. [[mark]] interleaves
  * `# sec label` comment rows so one timeline can be segmented per query
  * or per sweep family.
  *
  * `spin_mops` is a FIXED-WORK userspace CPU probe (million modmul ops/s
  * over [[Telemetry.spinKernel]]'s constant loop, ~10 ms of one core per
  * tick): a host signal the kernel counters cannot fake. The round-13
  * prefix-sweep investigation found slow cells where gc_pct, steal_pct
  * and disk told a clean story while JFR showed kernel-time bursts
  * (jvmSystem to 72 %). The probe's contract is ONE-DIRECTIONAL: a
  * depressed spin proves the host's scheduling/clock of this JVM
  * degraded (sufficient evidence — no plan change can slow a constant
  * register-resident loop), but a FLAT spin does not acquit the host
  * for memory-bound work: the same investigation measured 5× per-run
  * wall swings at flat spin, attributed via JFR hot frames (copyMemory/
  * hash-probe/TimSort) to shared LLC/DRAM/writeback contention, which
  * an ALU loop never touches. Pair a flat-spin slow cell with funnel
  * counts and per-stage shuffle bytes before blaming the plan. First
  * samples run ~cold (JIT); compare within a run, not across JVMs.
  */
final class Telemetry {
  import Telemetry._

  /** Per-phase RSS high-water mark in milli-MB: read-and-reset by callers
    * ([[RowProbe]] resets it before each row via [[resetRssMax]]).
    */
  val rssMaxMilliMb = new java.util.concurrent.atomic.AtomicLong(0L)

  private val timeline = new java.lang.StringBuilder(
    "sec,cpu_pct,rss_mb,disk_util_pct,net_rx_mbps,net_tx_mbps,steal_pct,gc_pct,spin_mops\n")
  private val t0 = System.nanoTime()
  @volatile private var stopped = false

  private val thread = new Thread(() => {
    var lastCpu = osBean.getProcessCpuTime
    var lastNs = System.nanoTime()
    var lastDisk = diskTicks()
    var lastNet = netBytes()
    var lastStat = statJiffies()
    var lastGc = gcMillis()
    while (!stopped) {
      Thread.sleep(1000)
      val mb = (rssMb() * 1000).toLong
      rssMaxMilliMb.getAndUpdate(m => math.max(m, mb))
      val cpu = osBean.getProcessCpuTime
      val ns = System.nanoTime()
      val disk = diskTicks()
      val net = netBytes()
      val stat = statJiffies()
      val elapsedMs = (ns - lastNs) / 1e6
      val pct = if (ns == lastNs) 0.0 else (cpu - lastCpu) * 100.0 / (ns - lastNs)
      val dUtil =
        if (elapsedMs <= 0 || disk.isEmpty) 0.0
        else disk.map { case (d, t) =>
          (t - lastDisk.getOrElse(d, t)) * 100.0 / elapsedMs
        }.max
      val elapsedSec = (ns - lastNs) / 1e9
      def mbps(now: Long, prev: Long): Double =
        if (elapsedSec <= 0) 0.0 else (now - prev) * 8.0 / 1e6 / elapsedSec
      // share of this guest's cpu time stolen by the hypervisor over the
      // interval — on a shared host THE differential diagnosis between
      // "our plan is slow" and "we were not scheduled" (a slow cell with
      // high steal_pct is the host's fault, not the plan's)
      val dTot = (stat._1 - lastStat._1).toDouble
      val stealPct = if (dTot <= 0) 0.0 else (stat._2 - lastStat._2) * 100.0 / dTot
      // stop-the-world GC share of the interval (cumulative collector
      // millis / wall millis) — the JVM-side differential the SCALING.md
      // semdedup variance question left open: a slow cell with low steal
      // but high gc_pct is heap churn, not hypervisor or plan
      val gc = gcMillis()
      val gcPct = if (elapsedMs <= 0) 0.0 else (gc - lastGc) * 100.0 / elapsedMs
      // fixed-work CPU probe: identical integer loop every tick, timed —
      // a drop here is the HOST's effective throughput degrading under
      // identical work, the signal steal/gc/disk can all miss
      val spinNs0 = System.nanoTime()
      spinSink = spinKernel(SpinIters)
      val spinNs = System.nanoTime() - spinNs0
      val spinMops = if (spinNs <= 0) 0.0 else SpinIters / (spinNs / 1e3)
      timeline.synchronized {
        timeline.append(f"${(ns - t0) / 1e9}%.0f,$pct%.0f,${mb / 1000}%d," +
          f"$dUtil%.0f,${mbps(net._1, lastNet._1)}%.1f,${mbps(net._2, lastNet._2)}%.1f," +
          f"$stealPct%.1f,$gcPct%.1f,$spinMops%.1f\n")
      }
      lastCpu = cpu
      lastNs = ns
      lastDisk = disk
      lastNet = net
      lastStat = stat
      lastGc = gc
    }
  })

  def start(): this.type = {
    thread.setDaemon(true)
    thread.start()
    this
  }

  /** Stop sampling (the thread exits after its current 1 s sleep). */
  def stop(): Unit = stopped = true

  /** Interleave a `# sec label` comment row — phase boundary marker. */
  def mark(label: String): Unit = timeline.synchronized {
    timeline.append(f"# ${(System.nanoTime() - t0) / 1e9}%.0f $label\n")
  }

  def resetRssMax(): Unit = rssMaxMilliMb.set((rssMb() * 1000).toLong)

  /** Seconds since this sampler started — the time base of the `sec`
    * column, so callers can window [[spinMedian]] to a timed cell.
    */
  def nowSec: Double = (System.nanoTime() - t0) / 1e9

  /** Median `spin_mops` over samples in [fromSec, toSec] — the host's
    * effective single-thread throughput DURING a timed cell. 0.0 when no
    * sample landed in the window (cell shorter than the 1 s tick).
    */
  def spinMedian(fromSec: Double, toSec: Double): Double =
    Telemetry.median(spinSamples()
      .collect { case (s, v) if s >= fromSec && s <= toSec => v })

  /** (sec, spin_mops) pairs parsed once — the single place that knows
    * the probe lives in column 8, shared by every spin statistic.
    */
  private def spinSamples(): Seq[(Double, Double)] =
    csv.linesIterator
      .filterNot(l => l.startsWith("#") || l.startsWith("sec,"))
      .map(_.split(",", -1)).filter(_.length >= 9)
      .map(f => (f(0).toDouble, f(8).toDouble)).toSeq

  def csv: String = timeline.synchronized(timeline.toString)

  /** Run-level host-health summary over the samples so far:
    * (median cpu_pct, median disk_util_pct, max steal_pct). These three
    * numbers are the differential diagnosis the round-11 driver run needed
    * in its own artifact — a run with normal cpu medians but high steal or
    * saturated disk is the HOST's regression, not the plans' — so
    * [[graft.Bench]] emits them on its final stdout JSON line where the
    * driver's bounded tail capture is guaranteed to keep them.
    */
  def summary: (Double, Double, Double) = {
    val rows = csv.linesIterator
      .filterNot(l => l.startsWith("#") || l.startsWith("sec,"))
      .map(_.split(",")).filter(_.length >= 7).toSeq
    if (rows.isEmpty) (0.0, 0.0, 0.0)
    else
      (Telemetry.median(rows.map(_(1).toDouble)),
        Telemetry.median(rows.map(_(3).toDouble)),
        rows.map(_(6).toDouble).max)
  }

  /** (median, p10) `spin_mops` over the whole run — the host-throughput
    * companion to [[summary]], emitted on Bench's final JSON line so a
    * degraded round (r12→r13 steady-state gap) is attributable to host
    * weather from the artifact alone. The low tail is the 10th
    * PERCENTILE, not the min: on a core-saturated local[n] run a single
    * preempted or GC-spanning 10 ms tick produces one collapsed sample
    * and min would read catastrophic on a perfectly healthy host —
    * p10 only drops when the degradation is SUSTAINED (≥10 % of the
    * run's ticks), which is the host-weather signature and not the
    * benchmark's own saturation. First (JIT-cold) sample excluded.
    */
  def spinSummary: (Double, Double) = {
    val vals = spinSamples().map(_._2).drop(1)
    if (vals.isEmpty) (0.0, 0.0)
    else {
      val s = vals.sorted
      (Telemetry.median(vals), s(math.min(s.size - 1, s.size / 10)))
    }
  }

  def writeCsv(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p,
      csv.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Telemetry {
  /** Median of a sample list; 0.0 on empty. One definition for every
    * statistic this file emits (review r13: three hand-rolled copies).
    */
  private[graft] def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Iterations of [[spinKernel]] per sampler tick: ~10 ms of one core —
    * cheap enough to ride every 1 s sample, long enough to average over
    * scheduler noise.
    */
  val SpinIters: Long = 4000000L

  /** Volatile sink so the spin loop cannot be dead-code-eliminated. */
  @volatile private var spinSink: Long = 0L

  /** The fixed integer workload behind `spin_mops`: data-independent
    * modmul chain, no allocation, no memory traffic beyond two locals —
    * pure ALU throughput, so its per-tick wall time moves ONLY with the
    * host's effective scheduling/clock of this thread.
    */
  def spinKernel(iters: Long): Long = {
    var x = 1L
    var i = 0L
    while (i < iters) {
      x = (x * 31 + 7) % 1000003L
      i += 1
    }
    x
  }

  val osBean: com.sun.management.OperatingSystemMXBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Cumulative stop-the-world collection time (ms) summed across all
    * garbage collectors; -1 beans count as 0.
    */
  def gcMillis(): Long =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    } catch { case _: Throwable => 0L }

  def rssMb(): Double =
    try {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/self/status"))
      val it = lines.iterator()
      while (it.hasNext) {
        val l = it.next()
        if (l.startsWith("VmRSS:"))
          return l.split("\\s+")(1).toDouble / 1024.0
      }
      0.0
    } catch { case _: Throwable => 0.0 }

  private def diskTicks(): Map[String, Long] =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/diskstats"))
        .asScala.toSeq.map(_.trim.split("\\s+"))
        .filter(f => f.length > 12 &&
          f(2).matches("sd[a-z]+|nvme\\d+n\\d+|vd[a-z]+|xvd[a-z]+|md\\d+"))
        .map(f => f(2) -> f(12).toLong).toMap
    } catch { case _: Throwable => Map.empty }

  /** (busy, total, ncpus) from /proc/stat, for whole-box other-process
    * load accounting (Bench's host preamble gate). busy excludes
    * idle+iowait; guest/guest_nice are excluded from BOTH sums — the
    * kernel already folds guest time into user/nice, so summing all
    * fields double-counts KVM guests. ncpus is counted from the cpuN
    * lines, which is what the aggregate line actually aggregates
    * (Runtime.availableProcessors diverges under cgroup cpusets or
    * -XX:ActiveProcessorCount and would mis-scale the busy fraction).
    */
  private[graft] def busyTotalCpus(): (Long, Long, Int) =
    try {
      val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      val f = lines.get(0).trim.split("\\s+").drop(1).map(_.toLong).take(8)
      var ncpus = 0
      val it = lines.iterator()
      while (it.hasNext) {
        val l = it.next()
        if (l.length > 3 && l.startsWith("cpu") && l.charAt(3) >= '0' && l.charAt(3) <= '9')
          ncpus += 1
      }
      (f.sum - f(3) - f(4), f.sum, ncpus)
    } catch { case _: Throwable => (0L, 0L, 0) }

  /** (total jiffies across all cpu fields, steal jiffies) from the
    * aggregate `cpu` line of /proc/stat.
    */
  private def statJiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  private def netBytes(): (Long, Long) =
    try {
      val ifs = Option(new java.io.File("/sys/class/net").listFiles())
        .getOrElse(Array.empty)
      def rd(f: java.io.File, s: String): Long =
        try new String(java.nio.file.Files.readAllBytes(
          f.toPath.resolve("statistics").resolve(s))).trim.toLong
        catch { case _: Throwable => 0L }
      (ifs.map(rd(_, "rx_bytes")).sum, ifs.map(rd(_, "tx_bytes")).sum)
    } catch { case _: Throwable => (0L, 0L) }
}
