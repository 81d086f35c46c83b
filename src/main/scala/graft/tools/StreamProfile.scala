package graft.tools

import graft.GraftSession

/** Per-trigger duration breakdown for one streaming serving row — the
  * diagnostic the x166 driver-cadence regression needed (VERDICT r16 #1:
  * p50 4.1 s at driver cadence vs 0.92 s committed, deterministic, and
  * the artifact's single p50 number cannot say WHERE the time went).
  * Prints each progress event's durationMs map (triggerExecution,
  * addBatch, walCommit, commitOffsets, ...) plus the state-operator
  * commit times, so slow-scratch WAL/state commits are separable from
  * slow execution. Run:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.StreamProfile [row]"
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val row = args.headOption.getOrElse("stream_x166_attrib_serve")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-streamprofile")
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          if (p.numInputRows > 0) {
            import scala.jdk.CollectionConverters._
            val dur = p.durationMs.asScala.toSeq.sortBy(-_._2)
              .map { case (k, v) => s"$k=$v" }.mkString(" ")
            val st = p.stateOperators.toSeq.map(so =>
              s"[rows=${so.numRowsTotal} commitMs=${so.commitTimeMs} " +
                s"mem=${so.memoryUsedBytes}]").mkString(" ")
            println(s"TRIGGER batch=${p.batchId} rows=${p.numInputRows} " +
              s"durations{$dur} state{$st}")
          }
        }
      })
    val thunk = graft.queries.ExtensionCatalog.streamingBench.toMap
      .getOrElse(row, sys.error(s"unknown streaming row $row"))
    val reps = sys.env.getOrElse("GRAFT_PROFILE_REPS", "2").toInt
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      thunk(spark, sfDir)
      println(f"RUN $i wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
