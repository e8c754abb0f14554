package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SQLExecutionRDD}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.storage.StorageLevel

/** Spark-internal bridge (hence the org.apache.spark.sql package): a
  * partitioning-preserving eager materialization for iterative loops.
  *
  * `Dataset.localCheckpoint` wraps the cached rows in a `LogicalRDD` with
  * UnknownPartitioning, so every consumer re-shuffles the loop state each
  * iteration (two exchanges per PageRank step). This variant materializes
  * the rows into a cached RDD and declares `HashPartitioning(keys, parts)`
  * on the `LogicalRDD`, so co-partitioned joins and aggregations on the keys
  * skip their exchanges entirely.
  *
  * The declared partitioning is never assumed. When the physical plan does
  * not report hash(keys, parts), a hash exchange on the keys is put on top
  * of that same plan before it runs, so the rows are laid out in the one
  * run. When it does report it, the plan runs as it is, and an adaptive
  * plan's final layout is checked after the run: if re-planning lost the
  * layout, the rows are laid out by a second run behind an explicit
  * exchange (partition count user-specified, so AQE never coalesces it).
  */
object GraftSqlInternals {

  /** Column <-> Catalyst Expression bridge for the engine's custom
    * expressions (graft.functions): Spark 4 hides the Expression-backed
    * Column constructor behind the classic ExpressionUtils.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def cutHashPartitioned(df: DataFrame, parts: Int, keys: Seq[String]): DataFrame = {
    val cds = df.asInstanceOf[CDataset[Row]]
    val session = cds.sparkSession
    val qe = cds.queryExecution
    val output = qe.analyzed.output
    val keyAttrs: Seq[Attribute] = keys.map(k => output.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"no column $k in ${output.map(_.name)}")))
    val layout = HashPartitioning(keyAttrs, parts)
    def exchanged(plan: SparkPlan): SparkPlan =
      session.withActive(ShuffleExchangeExec(layout, plan, REPARTITION_BY_NUM))
    def leaf(rdd: RDD[InternalRow]): DataFrame = CDataset.ofRows(session,
      LogicalRDD(output, rdd, layout, Nil, false)(session))

    val planned = qe.executedPlan
    if (!laidOut(planned, layout)) {
      // the plan cannot produce the layout: lay its rows out in the same
      // run. The exchange sits on the frame's OWN physical plan, so its
      // observed metrics are still filled by this one run.
      leaf(materialize(exchanged(planned), session))
    } else {
      val rdd = materialize(planned, session)
      // an adaptive plan may have re-planned away the layout it reported
      if (laidOut(planned, layout)) leaf(rdd)
      else {
        rdd.unpersist(false)
        // a fresh plan, so the observed metrics of the run above stand
        val again = CDataset.ofRows(session, qe.analyzed).queryExecution.executedPlan
        leaf(materialize(exchanged(again), session))
      }
    }
  }

  /** Whether `plan` (an adaptive plan: its current physical plan — the
    * initial one before it runs, the final one after) reports `layout`. A
    * PartitioningCollection (e.g. hash(id) or hash(comp) when comp aliases
    * id) matches when any member does.
    */
  private def laidOut(plan: SparkPlan, layout: HashPartitioning): Boolean = {
    val current = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def flatten(p: Partitioning): Seq[Partitioning] = p match {
      case c: PartitioningCollection => c.partitionings.flatMap(flatten)
      case other => Seq(other)
    }
    flatten(current.outputPartitioning).exists {
      case h: HashPartitioning =>
        h.numPartitions == layout.numPartitions &&
          h.expressions.length == layout.expressions.length &&
          h.expressions.zip(layout.expressions).forall {
            case (e: Attribute, k: Attribute) => e.exprId == k.exprId
            case _ => false
          }
      case _ => false
    }
  }

  /** Run `plan` once and cache its rows, lineage truncated. */
  private def materialize(plan: SparkPlan, session: SparkSession): RDD[InternalRow] = {
    val rdd = new SQLExecutionRDD(plan.execute(), session.sessionState.conf)
      .map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    // Truncate RDD lineage (keeps the cached blocks and the partitioner).
    // The declared-partitioning leaves make successive iterations NARROW
    // dependencies of each other, so without truncation the task object
    // graph grows per iteration and long fixpoints (100+ small iterations)
    // die in task (de)serialization with StackOverflowError.
    rdd.localCheckpoint()
    rdd.count() // eager: the loop must not re-run the producing plan
    rdd
  }
}
