package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.metrics.{RowProbe, Telemetry}
import graft.queries.{ExtensionCatalog, QueryCatalog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import scala.jdk.CollectionConverters._

/** The profiling tool, on the bench's own row measurement
  * ([[graft.metrics.RowProbe]]), so its numbers are the numbers a bench row
  * bills. args: `<query|build|stream|plan> <sfDir> <name[,name…]> [reps]`.
  *
  *  - `query`: a catalog query through the bench's noop sink;
  *  - `build`: a staged build row (`build_…`); every rep calls the node's
  *    `fresh`, into a new scratch dir, so every rep is a real build. Rep 1
  *    also pays for any shared template the node forces (as the bench row
  *    that first forces it does); later reps time the node net of it;
  *  - `stream`: a streaming serving row (`stream_…`); each trigger that
  *    read input prints its `durationMs` map and state-operator commits.
  *
  * Each rep of these three prints its wall, the input, output and
  * shuffle MB Bench bills and the classes Spark compiled (count and ms),
  * then a per-stage table (stage wall span, executor run and CPU time,
  * tasks, shuffle and input MB, call site), so it says where a row's
  * time goes; each name then prints one JSON line with the per-rep walls
  * and their median. Earlier names double as in-JVM warm-up for later
  * ones.
  *
  *  - `plan`: prints each query's `explain("formatted")` plan; the name
  *    `all` instead regenerates PLANS.md (every catalog query's plan) in
  *    the working directory.
  *
  * `SPARK_GRAFT_SQLCONF` (comma-separated `k=v` runtime SQL confs, e.g.
  * `spark.sql.adaptive.coalescePartitions.parallelismFirst=false`) is set
  * on the session first, the A/B hook for a plan change.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Profile <query|build|stream|plan> <sfDir> <name[,name…]> [reps]")
    val (mode, sfDir, names) = (args(0), args(1), args(2).split(',').toSeq)
    val reps = if (args.length > 3) args(3).toInt else 3
    require(reps > 0, s"reps must be positive, got $reps")
    val spark = GraftSession.build("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("SPARK_GRAFT_SQLCONF").foreach(_.split(',').foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) spark.conf.set(kv.take(i), kv.drop(i + 1))
    })
    try run(spark, mode, sfDir, names, reps) finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, mode: String, sfDir: String,
      names: Seq[String], reps: Int): Unit =
    if (mode == "plan") plan(spark, sfDir, names)
    else time(spark, sfDir, names.map(n => n -> body(mode, n)), reps)

  private def body(mode: String, name: String): (SparkSession, String) => Unit = mode match {
    case "query" =>
      val q = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      (s, dir) => q(s, dir).write.format("noop").mode("overwrite").save()
    case "build" =>
      val b = ExtensionCatalog.stagedBuilds.find(_.label == name)
        .getOrElse(sys.error(s"unknown build row '$name'"))
      (s, dir) => b.fresh(s, dir)
    case "stream" =>
      ExtensionCatalog.streamingBench.toMap
        .getOrElse(name, sys.error(s"unknown streaming row '$name'"))
    case other => sys.error(s"unknown mode '$other'; expected query, build, stream or plan")
  }

  private def time(spark: SparkSession, sfDir: String,
      rows: Seq[(String, (SparkSession, String) => Unit)], reps: Int): Unit = {
    val telem = new Telemetry().start()
    val probe = new RowProbe(spark, telem)
    try rows.foreach { case (name, f) =>
      val walls = (1 to reps).map { rep =>
        val r = probe.run(name)(f(spark, sfDir))
        require(!r.failed, s"$name rep $rep failed")
        val ss = r.stages
        println(f"== rep $rep: $name wall ${r.wallSec}%.2f s, ${ss.size} stages, " +
          f"in ${r.inputMb}%.1f MB, out ${r.outputMb}%.1f MB, shuffle ${r.shuffleMb}%.1f MB, " +
          f"sum(stage wall) ${ss.map(_.wallMs).sum / 1e3}%.2f s, " +
          f"sum(run) ${ss.map(_.runMs).sum / 1e3}%.2f s, " +
          f"sum(cpu) ${ss.map(_.cpuMs).sum / 1e3}%.2f s, " +
          f"${r.compiles}%d classes compiled in ${r.codegenMs}%.0f ms")
        ss.sortBy(-_.runMs).take(25).foreach { s =>
          println(f"  wall ${s.wallMs / 1e3}%6.2f run ${s.runMs / 1e3}%7.2f " +
            f"cpu ${s.cpuMs / 1e3}%7.2f ${s.tasks}%4d tasks " +
            f"shW ${s.shuffleWriteMb}%6.1f shR ${s.shuffleReadMb}%6.1f " +
            f"in ${s.inputMb}%6.1f  ${s.name.take(90)}")
        }
        r.triggers.foreach { p =>
          val dur = p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          val st = p.stateOperators.toSeq.map(so =>
            s"[rows=${so.numRowsTotal} commitMs=${so.commitTimeMs} " +
              s"mem=${so.memoryUsedBytes}]").mkString(" ")
          println(s"  trigger batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations{$dur} state{$st}")
        }
        r.wallSec
      }
      println(Bench.checkedLine(f"""{"name":"$name","median_sec":${Telemetry.median(walls)}%.3f,""" +
        s""""runs":[${walls.map(w => f"$w%.2f").mkString(",")}],"sf":"$sfDir"}"""))
    } finally {
      probe.close()
      telem.stop()
    }
  }

  private def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    if (names == Seq("all")) {
      val sb = new StringBuilder
      sb.append("# PLANS — physical plans of every catalog query (generated by `graft.tools.Profile plan <sfDir> all`)\n\n")
      sb.append("Audit targets: `PushedFilters` on grammar predicates, `ReadSchema` pruned\n")
      sb.append("to used columns, broadcast only on bounded sides, every join keyed.\n")
      QueryCatalog.all.foreach { e =>
        val p = e.build(spark, sfDir).queryExecution.explainString(SimpleMode)
        sb.append(s"\n## ${e.name}\n\n${e.describe}\n\n```\n$p```\n")
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
      println("[profile] wrote PLANS.md")
    } else names.foreach { n =>
      val q = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query '$n'"))
      println(s"== plan $n")
      print(q(spark, sfDir).queryExecution.explainString(FormattedMode))
    }
}
