package graft.tools

import graft.metrics.{BytePlanner, RangedReader}

/** CLI-compatible runner for the reference's v2 binary
  * (/root/reference/v2/src/main.rs:56-160): metadata pass, row-group
  * pruning against a `col > w` predicate, then PERFORMED coalesced ranged
  * reads of every surviving chunk — no SQL engine anywhere, the pure
  * near-storage scan path. Reported like the reference: bytes read (GB),
  * time, throughput, plus planned-vs-measured agreement.
  *
  *   -p <dir>       parquet folder (required)
  *   -w <x|tier>    threshold for `<col> > w`; tier names best/10/25/50/
  *                  75/worst map to quantiles of the column over the data
  *                  (the reference hard-wires Snowset memoryUsed values,
  *                  v2/src/main.rs:73-91 — quantiles reproduce the tiers
  *                  on any fixture)
  *   -col <name>    filter column (reference hard-wires column 92;
  *                  fixtures default to l_extendedprice)
  *   -t <threads>   reader parallelism (reference TASK_COUNT=16)
  *   -cols <csv>    optional projection (v2 reads all columns; chunks of
  *                  unlisted columns are skipped when given)
  */
object V2Runner {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val path = opts.getOrElse("-p", sys.error("-p <parquet dir> is required"))
    val colName = opts.getOrElse("-col", "l_extendedprice")
    val threads = opts.getOrElse("-t", "16").toInt
    val columns = opts.get("-cols").map(_.split(",").toSeq).getOrElse(Nil)

    val w: Double = opts.getOrElse("-w", "0") match {
      case t @ ("best" | "10" | "25" | "50" | "75" | "worst") =>
        // footer min/max of the filter column re-create the reference's
        // named tiers on arbitrary data without scanning any rows
        val (lo, hi) = BytePlanner.columnRange(path, colName)
          .getOrElse(sys.error(s"no parquet min/max for $colName under $path"))
        t match {
          case "worst" => lo - 1.0 // retain everything
          case "best" => hi + 1.0 // prune everything
          // tier N ≈ retain N% of a uniform column: threshold sits N% down
          // from the max (reference tiers are Snowset-specific constants,
          // v2/src/main.rs:75-83 — this reproduces their shape anywhere)
          case q => lo + (hi - lo) * (100 - q.toInt) / 100.0
        }
      case x => x.toDouble
    }

    val pred = Some(s"$colName > $w")
    val t0 = System.nanoTime()
    val plan = BytePlanner.plan(path, columns, pred)
    require(plan.files.nonEmpty, s"no parquet files under $path")
    println(s"Reading metadata... (${plan.files.size} files, predicate $colName > $w)")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val rangeCount = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      val futures = plan.files.map { f =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val ranges = RangedReader.coalesce(f.ranges)
            rangeCount.addAndGet(ranges.size.toLong)
            bytesRead.addAndGet(RangedReader.readRanges(f.path, ranges))
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val secs = (System.nanoTime() - t0) / 1e9

    val gb = bytesRead.get() / 1e9
    println(f"Bytes read: $gb%.3f GB (planned ${plan.plannedBytes / 1e9}%.3f GB, " +
      s"match=${bytesRead.get() == plan.plannedBytes})")
    println(f"Total Time: $secs%.2f s")
    println(f"Total Throughput: ${gb / secs}%.3f GB/s over ${rangeCount.get()} coalesced ranges")
    println(f"Selectivity: ${plan.selectivity}%.6f " +
      s"(${plan.survivingGroups}/${plan.rowGroups} row groups)")
  }
}
