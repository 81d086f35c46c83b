package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Dev tool: the measured form of SCALING.md's O(index)-vs-O(corpus)
  * rebase claim. args: <compact|rebuild_grown> <sfDir> [reps]. `compact`
  * times ONLY the minhashCompact rebase over a per-rep fresh x155-shaped
  * grown index (gen-0 build + gen-1 ADMITTED append, both untimed);
  * `rebuild_grown` times the from-scratch build over the same grown
  * corpus. Prints per-rep walls and the median; each rep's timed part is
  * one [[graft.metrics.RowProbe]] row, the bench's own measurement. To
  * re-time a bench build row, use `Profile build <sfDir> build_… [reps]`,
  * which runs the real staged node.
  */
object BuildTimer {
  def main(args: Array[String]): Unit = {
    val which = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 5
    require(which == "compact" || which == "rebuild_grown", s"unknown build '$which'")
    val spark = GraftSession.build("graft-buildtimer")
    spark.sparkContext.setLogLevel("ERROR")
    val docs = GraftSession.table(spark, sfDir, "documents")
    def freshOut(): String =
      graft.queries.ExtensionCatalog.stagedScratch(s"buildtimer-$which")
    // grown-lifecycle fixtures for the maintenance-path timings: gen-0
    // base plus a gen-1 batch, the x153/x155 staging split
    val g0 = docs.where(col("doc_id") % 3 === 0)
    val g1 = docs.where(col("doc_id") % 3 === 1)
    val telem = new graft.metrics.Telemetry().start()
    val probe = new graft.metrics.RowProbe(spark, telem)
    val walls = (1 to reps).map { i =>
      val out = freshOut()
      // UNTIMED staging for the compact mode: the measurement is the
      // rebase alone, over a grown index prepared fresh per rep with
      // x155's EXACT lifecycle — gen-1 probed and only its ADMITTED
      // (kept) docs appended; appending all of g1 would time compaction
      // of a different, larger artifact than the bench row's (review r15)
      var rebuildInput: org.apache.spark.sql.DataFrame = null
      // checkpointed blocks accumulate across reps unless released (the
      // heap pressure the between-rep cache-clear exists to avoid —
      // ADVICE r15); released at rep end
      val repCheckpoints = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      if (which == "compact") {
        graft.sources.Layouts.minhashIndex(g0, out,
          groupBytes = 256L * 1024, pageRows = 2000)
        val st1 = graft.operators.Dedup.incrementalDedupStaged(
          g1, out, "doc_id", "text", threshold = 0.5)
        val kept1 = g1.join(
          st1.where(col("status") === "kept").select("doc_id"), "doc_id")
          .localCheckpoint()
        repCheckpoints += kept1
        graft.sources.Layouts.minhashAppend(kept1, out,
          groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("gen1"))
      }
      // rebuild_grown's input is the SAME admitted corpus the compact
      // mode's index holds (g0 ∪ kept1, derived untimed via a throwaway
      // gen-0 probe index) — a rebuild over all of g0 ∪ g1 would time a
      // larger build than the artifact compact rebases (review r15)
      if (which == "rebuild_grown") {
        val probeIdx = freshOut()
        graft.sources.Layouts.minhashIndex(g0, probeIdx,
          groupBytes = 256L * 1024, pageRows = 2000)
        val st1 = graft.operators.Dedup.incrementalDedupStaged(
          g1, probeIdx, "doc_id", "text", threshold = 0.5)
        rebuildInput = g0.union(g1.join(
          st1.where(col("status") === "kept").select("doc_id"), "doc_id"))
          .localCheckpoint()
        repCheckpoints += rebuildInput
        scala.reflect.io.Directory(new java.io.File(probeIdx)).deleteRecursively()
      }
      val r = probe.run(s"$which rep $i") {
        which match {
          // the x155 A/B pair: the rebase alone (corpus never rescanned)
          // vs the from-scratch rebuild over the same grown corpus — the
          // measured form of SCALING.md's O(index) vs O(corpus) claim
          case "compact" => graft.sources.Layouts.minhashCompact(out,
            groupBytes = 256L * 1024, pageRows = 2000)(spark)
          case "rebuild_grown" => graft.sources.Layouts.minhashIndex(
            rebuildInput, out, groupBytes = 256L * 1024, pageRows = 2000)
        }
      }
      require(!r.failed, s"$which rep $i failed")
      System.err.println(f"[buildtimer] rep $i: ${r.wallSec}%.2f s")
      scala.reflect.io.Directory(new java.io.File(out)).deleteRecursively()
      repCheckpoints.foreach(graft.metrics.RowProbe.releaseCheckpoint)
      r.wallSec
    }
    val med = graft.metrics.Telemetry.median(walls)
    println(graft.Bench.checkedLine(f"""{"build":"$which","median_sec":$med%.3f,"runs":[${walls.map(w => f"$w%.2f").mkString(",")}]}"""))
    spark.stop()
  }
}
