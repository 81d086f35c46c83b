package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in exact integer micro-units.
  *
  * Scores live in units of 1e-9 (a node's share of one total unit of rank),
  * and every per-iteration step is integer arithmetic: the damped pass-along
  * is `(score * 85) div 100`, the per-edge split is a further `div outdeg`,
  * and the receive side is an exact i64 sum. Nothing depends on float
  * accumulation order, so a DuckDB oracle replays the iterations
  * bit-for-bit — the same trick x27 uses for centroids. The cost is the
  * usual integer-division dust: each division floors, so a little mass
  * evaporates per hop (as it also does for dangling nodes); ranking order is
  * what the operator promises, not mass conservation.
  *
  * Each iteration is one co-partitioned join (scores onto edge sources) and
  * one shuffle aggregation (contributions by destination) — the standard
  * distributed PageRank step. Iterations are unrolled by the caller's
  * `iters`, not driver-side convergence probes, so the job graph is static.
  *
  * Materialization: the caller's `edges` is typically a join over fact
  * tables. Left lazy, each unrolled iteration re-inlines that derivation
  * into every use — at 3 iterations the round-6 plan held 44 FileScans of
  * the fact tables and zero ReusedExchange. `localCheckpoint` puts a hard
  * barrier under `edges`/`nodes`/`deg` (computed once, iterated over many
  * times) and truncates each iteration's score lineage so the job graph
  * stays flat however many iterations the caller unrolls. This is the
  * crossing-a-composed-stage-boundary case where an explicit barrier beats
  * relying on ReuseExchange; on a real cluster with lossy executors you'd
  * swap in reliable `checkpoint` against the checkpoint dir — same shape.
  */
object PageRank {

  /** `edges`: (src, dst) long columns, pre-deduplicated. Returns
    * (node, score) after `iters` damped iterations from a uniform start.
    */
  def run(edges: DataFrame, iters: Int = 3): DataFrame = {
    // Iteration hygiene (VERDICT r12 #5): everything loop-invariant is
    // materialized ONCE, partitioned on the key each iteration joins by,
    // with the out-degree folded INTO the edge table so the per-iteration
    // deg join (and its exchange) disappears from the loop entirely.
    // localCheckpoint captures the physical plan's outputPartitioning
    // into the LogicalRDD — but ONLY when that plan is not an adaptive
    // wrapper: under AQE the capture reports UnknownPartitioning and
    // every iteration re-exchanged the edge side (measured 2
    // src-exchanges/iteration vs 1). So the invariants materialize in a
    // CLONED session with AQE off (spark.newSession() shares the
    // SparkContext but isolates SQLConf — no shared-session conf
    // mutation, safe under concurrent callers; advice r13/r14), leaving
    // the edges hash-partitioned on `src` and nodes on `node` across
    // every unrolled iteration — per iteration only the score side
    // shuffles onto the edges' layout, plus the groupBy(dst) aggregate
    // that IS the PageRank step. The checkpointed invariants re-bind to
    // the CALLER's session afterwards, so the iteration queries run
    // adaptively under the caller's own conf.
    val spark = edges.sparkSession
    // the caller's `edges` derivation (typically a fact-table join) runs
    // and materializes under the caller's AQE first — static planning of
    // that join is measurably slower; only the cheap re-layout passes
    // over the already-materialized (far smaller) edge table run with
    // AQE suspended
    val e1 = edges.localCheckpoint()
    val cloned = spark.newSession()
    cloned.conf.set("spark.sql.adaptive.enabled", "false")
    // newSession starts from context defaults, not the caller's runtime
    // conf — pin the one knob that shapes the invariant layout, so the
    // checkpointed width matches what an in-session materialization got
    cloned.conf.set("spark.sql.shuffle.partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    val bridge = org.apache.spark.sql.graft.GraftPlans
    val e1c = bridge.rebind(e1, cloned)
    // deg folded in by a window over the src-partitioned edges: one
    // shuffle, one checkpointed table — a separate deg aggregate would
    // either checkpoint the edges twice or re-derive deg per iteration
    val eC = e1c.repartition(col("src"))
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint()
    // nodes from the NARROW e1 checkpoint via one explode, not a union of
    // two reads of the deg-widened eC (r18 optimization round: the union
    // form was the row's single heaviest stage — 64 tasks re-reading the
    // widened edge blocks twice); same node set either way
    val nodesC = e1c.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct()
      .repartition(col("node")).localCheckpoint()
    // e/nodes are materialized (eager checkpoints), so e1's blocks are
    // dead weight from here: release them NOW rather than pinning a
    // second full copy of the edge table for the whole iteration loop
    // (the accumulated-checkpoint heap pressure ScaleSweep's
    // between-repeat discipline exists for). The checkpointed RDD hides
    // behind the LogicalRDD in e1's plan; unpersist is a no-op if the
    // plan shape ever changes.
    e1.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
    }
    val e = bridge.rebind(eC, spark)
    val nodes = bridge.rebind(nodesC, spark)
    // 1-row invariant folded to a literal: node count collected ONCE on
    // the driver (O(1) bytes) instead
    // of a checkpoint job plus a broadcast cross join in init and every
    // iteration; at bench scale those were ~5 extra jobs of pure overhead,
    // and at cluster scale a literal beats shipping a 1-row broadcast per
    // stage. Integer semantics identical: `x div n` == Long division.
    val n = math.max(1L, nodes.count())
    val init = nodes.select(col("node"), lit(1000000000L / n).as("score"))
    (1 to iters).foldLeft(init) { (score, i) =>
      val next = e
        .join(score.withColumnRenamed("node", "src"), "src")
        .groupBy("dst")
        .agg(sum(expr("((score * 85) div 100) div deg")).as("m"))
      val stepped = nodes
        .join(next.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(150000000L / n) + coalesce(col("m"), lit(0L))).as("score"))
      // flatten lineage between iterations; leave the last lazy so the
      // caller's orderBy/limit fuses onto it
      if (i < iters) stepped.localCheckpoint() else stepped
    }
  }
}
