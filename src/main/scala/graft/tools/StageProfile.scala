package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev tool: run one catalog query (or staged build, with the `build_`
  * prefix) and print a per-stage attribution table from the listener bus —
  * stage wall span, executor run/CPU time, task count, shuffle bytes, and
  * the first line of the stage's call site. The missing middle between
  * TimeQuery's one wall number and the full Bench run: says WHERE a row's
  * time goes (which exchange, which scan, codegen-heavy stage) without a
  * UI. args: <sfDir> <name> [reps]
  *
  * A `build_…` name runs the staged node's `fresh` build on EVERY rep,
  * into a new scratch dir, so each rep is a real build. Rep 1 also pays
  * for any shared template the node forces (as the Bench row that first
  * forces it does); later reps find the template built and time the node
  * net of it.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProfile <sfDir> <name> [reps]")
    val (sfDir, name) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.build("graft-stageprofile")
    spark.sparkContext.setLogLevel("ERROR")
    // A/B hook: comma-separated k=v runtime SQL confs, e.g.
    // SPARK_GRAFT_SQLCONF=spark.sql.adaptive.coalescePartitions.parallelismFirst=false
    sys.env.get("SPARK_GRAFT_SQLCONF").foreach(_.split(',').foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) spark.conf.set(kv.take(i), kv.drop(i + 1))
    })

    case class S(name: String, wallMs: Long, runMs: Long, cpuMs: Long,
        tasks: Int, shufWMb: Double, shufRMb: Double, inMb: Double)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[S]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val wall = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(0L)
        stages.add(S(i.name.linesIterator.next(), wall,
          m.executorRunTime, m.executorCpuTime / 1000000,
          i.numTasks, m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.shuffleReadMetrics.remoteBytesRead / 1e6 +
            m.shuffleReadMetrics.localBytesRead / 1e6,
          m.inputMetrics.bytesRead / 1e6))
      }
    })

    val thunk: () => Unit =
      if (name.startsWith("build_")) {
        val b = graft.queries.ExtensionCatalog.stagedBuilds.find(_.label == name)
          .getOrElse(sys.error(s"unknown build row '$name'"))
        () => b.fresh(spark, sfDir)
      } else { () =>
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }

    (1 to reps).foreach { rep =>
      stages.clear()
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      thunk()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // drain the bus
      import scala.jdk.CollectionConverters._
      val ss = stages.asScala.toSeq
      println(f"== rep $rep: $name wall $wall%.2f s, ${ss.size} stages, " +
        f"sum(stage wall) ${ss.map(_.wallMs).sum / 1e3}%.2f s, " +
        f"sum(run) ${ss.map(_.runMs).sum / 1e3}%.2f s, " +
        f"sum(cpu) ${ss.map(_.cpuMs).sum / 1e3}%.2f s")
      ss.sortBy(-_.runMs).take(25).foreach { s =>
        println(f"  wall ${s.wallMs / 1e3}%6.2f run ${s.runMs / 1e3}%7.2f " +
          f"cpu ${s.cpuMs / 1e3}%7.2f ${s.tasks}%4d tasks " +
          f"shW ${s.shufWMb}%6.1f shR ${s.shufRMb}%6.1f in ${s.inMb}%6.1f  ${s.name.take(90)}")
      }
    }
    spark.stop()
  }
}
