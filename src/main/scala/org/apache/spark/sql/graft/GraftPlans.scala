package org.apache.spark.sql.graft

import graft.plans.AsOfJoinNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Builders for graft's custom logical plans (`private[sql]` bridge, same
  * placement rationale as [[GraftFunctions]]). The planner knows the
  * strategy only through [[graft.GraftExtensions]], which every session
  * from [[graft.GraftSession.build]] carries (on a cluster:
  * `spark.sql.extensions=graft.GraftExtensions`).
  */
object GraftPlans {

  /** Plan-native as-of join: same contract as
    * [[graft.operators.AsOfJoin.lastPrior]] — each left row gains
    * `asof_<c>` for every carried right column, from the latest right row
    * at-or-before its time per key (equal-time right rows resolve to the
    * max tie-break).
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      carry: Seq[String],
      rightTieBreak: String): DataFrame = {
    val spark = left.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val lp = left.queryExecution.analyzed
    val rpRaw = right.queryExecution.analyzed
    // self-join safety: when both sides descend from the same scan they
    // share exprIds, and DeduplicateRelations cannot know which of this
    // node's expressions bind to which child — give the right side fresh
    // ids up front so there is never a conflict to resolve
    val rp =
      if (rpRaw.outputSet.intersect(lp.outputSet).isEmpty) rpRaw
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rpRaw.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rpRaw)
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in [${p.output.map(_.name).mkString(", ")}]"))
    val carried = carry.map(attr(rp, _))
    val carriedOut = carried.map(a =>
      AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)())
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      AsOfJoinNode(lp, rp,
        attr(lp, key), attr(rp, key),
        attr(lp, leftTime), attr(rp, rightTime),
        attr(rp, rightTieBreak), carried, carriedOut))
  }

  /** Re-bind a DataFrame's analyzed plan to another session sharing the
    * same SparkContext (e.g. one from `spark.newSession()`). The plan
    * itself carries no session reference — a checkpointed LogicalRDD in
    * particular is just an RDD + schema + captured partitioning — so the
    * result is the same data evaluated under the TARGET session's conf.
    * This is what lets an operator run a conf-sensitive window (say, AQE
    * suspended during invariant materialization, [[graft.operators
    * .PageRank]]) inside a cloned session instead of mutating conf the
    * caller shares.
    */
  def rebind(df: DataFrame, to: org.apache.spark.sql.SparkSession): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      to.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)
}
