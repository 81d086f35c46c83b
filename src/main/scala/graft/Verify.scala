package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter] — the
    // driver always passes two; the filter is a local iteration aid.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Per-query wall-clock guard: one pathological plan must not stall the
    // whole correctness round. On timeout, cancel the query's Spark jobs
    // (tagged via job group) and move on — the query simply reports as
    // missing instead of hanging the driver.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "300").toLong
    // A broken query must show up as an explicit red entry, never as silent
    // absence (round-8 lesson: 16 event queries threw, were only logged to
    // stderr, and CORRECTNESS read "all green" by omission). Failures are
    // collected here and dumped as `_failed.json` next to the result dirs.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // drop any cached stage tables the previous query left behind (see
      // Bench scaladoc: leaked blocks compound across a shared JVM)
      spark.sharedState.cacheManager.clearCache()
      val worker = new Thread(() =>
        try {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
          failed.synchronized { failed(name) = msg }
          System.err.println(s"[verify] $name failed: $msg")
        })
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutSec * 1000)
      if (worker.isAlive) {
        System.err.println(s"[verify] $name timed out after ${timeoutSec}s; cancelling")
        failed.synchronized { failed(name) = s"timeout after ${timeoutSec}s" }
        spark.sparkContext.cancelJobGroup(name)
        worker.join(30000)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure sidecar: name → error for every query that produced no result
    // dir. The driver's compare treats a missing dir as a red row via this
    // file; an empty object means every attempted query wrote output.
    val failedJson = failed.synchronized {
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    }
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
