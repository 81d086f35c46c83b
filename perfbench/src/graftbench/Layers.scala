package graftbench

/** Per-layer metrics of a traced run, from the benchmark's spans, the
  * counts it read at each layer boundary, and the Spark and streaming
  * listeners. Every metric is a mean per traced op that touched the
  * layer (0 when no op did), unless its comment says otherwise.
  */
final class Layers(run: Run, w: Workload, spark: SparkProbe, stream: StreamProbe) {
  private val tracer = run.tracer
  private val traced = run.timed.toSeq

  /** Stages per traced op: the op's own job group, or — for jobs the
    * program submits from its own threads or groups (concurrent table
    * writes, the stream's micro-batches) — the op whose window holds the
    * job's start. Jobs started after the op's timed window (its checks)
    * are left out.
    */
  private val stagesOf: Map[Int, Seq[StageRec]] = {
    val windows = traced.map(o => (o, tracer.epochMs(o.t0), tracer.epochMs(o.t1)))
    val byId = windows.map(w => w._1.id -> w).toMap
    spark.stages.toSeq.flatMap { s =>
      val own =
        if (s.group.startsWith("perfbench-op-")) byId.get(s.group.stripPrefix("perfbench-op-").toInt)
        else windows.find { case (_, a, b) => s.jobStartMs >= a && s.jobStartMs <= b }
      own.filter { case (_, _, end) => s.jobStartMs <= end + 1 }.map(_._1.id -> s)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
  private val sparkOps = traced.filter(o => stagesOf.contains(o.id))

  private def perOp(f: Seq[StageRec] => Double): Double =
    Stats.mean(sparkOps.map(o => f(stagesOf(o.id))))

  private def gapMs(o: Op): Double = {
    val a = tracer.epochMs(o.t0)
    val b = tracer.epochMs(o.t1)
    val iv = stagesOf(o.id).map(s => (math.max(a, s.submitMs.toDouble), math.min(b, s.doneMs.toDouble)))
      .filter(x => x._2 > x._1)
    o.ms - Stats.unionLength(iv)
  }

  private def spanMs(name: String): Double =
    Stats.mean(tracer.spans.filter(_.name == name).map(s => (s.t1 - s.t0) / 1e6).toSeq)

  private def count(name: String, ops: Seq[Op] = traced): Double =
    Stats.mean(ops.flatMap(_.counts.get(name)))

  private def ratio(num: String, den: String): Double = {
    val d = traced.flatMap(_.counts.get(den)).sum
    if (d == 0) 0.0 else traced.flatMap(_.counts.get(num)).sum / d
  }

  private val batches: Seq[(Op, Batch)] = traced.filter(_.kind == "serve").flatMap { o =>
    o.counts.get("stream.batch").flatMap(b => stream.batches.find(_.id == b.toLong)).map(o -> _)
  }

  private def phase(key: String): Double = Stats.mean(batches.map(_._2.durations.getOrElse(key, 0L).toDouble))

  private val selfMs = tracer.selfMs
  private val layoutOps = run.timed.filter(_.counts.contains("layouts.files_written")).toSeq

  def metrics: Seq[(String, Double, String)] = {
    val scanRows = traced.filter(_.counts.contains("scan.table_rows"))
    val recordsFrac = {
      val rows = scanRows.map(_.counts("scan.table_rows")).sum
      if (rows == 0) 0.0 else scanRows.flatMap(o => stagesOf.get(o.id)).flatten.map(_.recordsRead).sum / rows
    }
    Seq(
      ("operators.build_ms", spanMs("operators.build"), "ms"),
      ("driver.plan_ms", spanMs("driver.plan"), "ms"),
      ("driver.codegen_ms", count("driver.codegen_ms", sparkOps), "ms"),
      ("driver.jobs", perOp(_.map(_.jobId).distinct.size), "count"),
      ("driver.stages", perOp(_.size), "count"),
      ("driver.tasks", perOp(_.map(_.tasks).sum), "count"),
      ("driver.gap_ms", Stats.mean(sparkOps.map(gapMs)), "ms"),
      ("scan.files", count("scan.files"), "count"),
      ("scan.records_read", perOp(_.map(_.recordsRead).sum.toDouble), "count"),
      ("scan.records_frac", recordsFrac, "ratio"),
      ("scan.time_ms", count("scan.time_ms"), "ms"),
      ("scan.metadata_ms", count("scan.metadata_ms"), "ms"),
      ("exec.run_ms", perOp(_.map(_.runMs).sum.toDouble), "ms"),
      ("exec.cpu_ms", perOp(_.map(_.cpuMs).sum), "ms"),
      ("exec.gc_ms", perOp(_.map(_.gcMs).sum.toDouble), "ms"),
      ("shuffle.write_mb", perOp(_.map(_.shuffleWrite).sum / 1e6), "MB"),
      ("shuffle.read_mb", perOp(_.map(_.shuffleRead).sum / 1e6), "MB"),
      ("shuffle.fetch_wait_ms", perOp(_.map(_.fetchWaitMs).sum.toDouble), "ms"),
      ("shuffle.exchanges", perOp(_.count(_.shuffleWrite > 0)), "count"),
      ("planner.plan_ms", spanMs("planner.plan"), "ms"),
      ("planner.groups_kept_frac", ratio("planner.groups_kept", "planner.groups"), "ratio"),
      ("planner.planned_mb", count("planner.planned_mb"), "MB"),
      ("reader.read_ms", spanMs("reader.read"), "ms"),
      ("reader.ranges", count("reader.ranges"), "count"),
      ("reader.read_mb", count("reader.read_mb"), "MB"),
      ("layouts.build_ms", w.layers.getOrElse("layouts.build_ms", 0.0), "ms"),
      ("layouts.append_ms", spanMs("layouts.append"), "ms"),
      ("layouts.retract_ms", spanMs("layouts.retract"), "ms"),
      ("layouts.manage_ms", spanMs("layouts.manage"), "ms"),
      ("layouts.compact_ms", spanMs("layouts.compact"), "ms"),
      ("layouts.files_written", count("layouts.files_written", layoutOps), "count"),
      ("layouts.written_mb", count("layouts.written_mb", layoutOps), "MB"),
      // index size after the last layout call of the run
      ("layouts.index_mb", layoutOps.lastOption.map(_.counts("layouts.index_mb")).getOrElse(0.0), "MB"),
      ("layouts.index_files", count("layouts.index_files"), "count"),
      ("stream.start_ms", w.layers.getOrElse("stream.start_ms", 0.0), "ms"),
      ("stream.pickup_ms", Stats.mean(batches.map { case (o, b) => b.triggerStartMs - tracer.epochMs(o.t0) }), "ms"),
      ("stream.trigger_ms", phase("triggerExecution"), "ms"),
      ("stream.add_batch_ms", phase("addBatch"), "ms"),
      ("stream.planning_ms", phase("queryPlanning"), "ms"),
      ("stream.latest_offset_ms", phase("latestOffset"), "ms"),
      ("stream.wal_commit_ms", phase("walCommit"), "ms"),
      ("trace.spans", tracer.spans.size.toDouble, "count"),
      // benchmark-side time of an op outside every layer span
      ("trace.op_self_ms", Stats.mean(tracer.spans.filter(_.parent < 0).map(s => selfMs(s.id)).toSeq), "ms"))
  }

  /** Spans (with self time), ops and attributed stages, as one JSON file. */
  def write(path: String): Unit = {
    import Stats._
    val spans = tracer.spans.map(s => obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "op" -> s.op.toString, "name" -> str(s.name), "start_ms" -> num(tracer.epochMs(s.t0)),
      "end_ms" -> num(tracer.epochMs(s.t1)), "self_ms" -> num(selfMs(s.id)))))
    val ops = tracer.ops.map(o => obj(Seq("id" -> o.id.toString, "kind" -> str(o.kind),
      "traced" -> o.traced.toString, "ok" -> o.ok.toString, "ms" -> num(o.ms),
      "counts" -> obj(o.counts.toSeq.map { case (k, v) => k -> num(v) }),
      "stages" -> stagesOf.getOrElse(o.id, Nil).map(s => obj(Seq("stage" -> s.stageId.toString,
        "job" -> s.jobId.toString, "tasks" -> s.tasks.toString, "run_ms" -> s.runMs.toString,
        "shuffle_write" -> s.shuffleWrite.toString))).mkString("[", ", ", "]"))))
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, obj(Seq("spans" -> spans.mkString("[", ",\n", "]"),
      "ops" -> ops.mkString("[", ",\n", "]"))).getBytes("UTF-8"))
  }
}
