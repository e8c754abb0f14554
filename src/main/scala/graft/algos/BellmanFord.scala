package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Bellman-Ford over SIGNED integer weights — the min-plus semiring case
  * [[SSSP]] excludes (its delta frontier assumes non-negative weights, like
  * GraphBLAS's `GrB_MIN_PLUS_SEMIRING` demos). Negative edges force the
  * textbook synchronous schedule: every round relaxes EVERY edge against the
  * full current distance table, because a negative in-edge can improve a
  * vertex that stopped changing rounds ago.
  *
  * Spark shape per round: one src-keyed equi-join of the co-partitioned
  * adjacency against the distance table, one dst-keyed min-aggregation, one
  * outer-join merge — the same two-exchange skeleton as the PageRank
  * iteration, constant plan size via Iterate.cut. |V|·|E| total work is the
  * algorithm's own bound; exact long arithmetic end to end.
  */
object BellmanFord {

  /** k synchronous relaxation rounds from `source` (edges: src, dst, long w).
    * After k rounds dist(v) = weight of the lightest ≤k-hop walk — exact
    * integers, deterministic at any parallelism.
    */
  def runFixed(spark: SparkSession, edges: DataFrame, source: Long,
               k: Int): DataFrame =
    Iterate.withoutAQE(spark)(loop(spark, edges, source, k, detect = false)._1)

  /** Relaxes to fixpoint, at most |V| rounds. Returns (distances,
    * negativeCycleReachable): if round |V| still improves some vertex, a
    * negative-weight cycle is reachable from `source` and the distances of
    * vertices downstream of it are unbounded below (returned as the |V|-round
    * snapshot).
    */
  def run(spark: SparkSession, edges: DataFrame,
          source: Long): (DataFrame, Boolean) = {
    val n = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct().count()
    Iterate.withoutAQE(spark)(
      loop(spark, edges, source, n.toInt, detect = true))
  }

  private def loop(spark: SparkSession, edges: DataFrame, source: Long,
                   k: Int, detect: Boolean): (DataFrame, Boolean) = {
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val adj = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // chg rides along in the state and is ignored by the next round's joins
    val fp = Iterate.fixpoint(Seq((source, 0L)).toDF("id", "dist"), 0, Nil, k,
        metrics = Seq(sum(when(col("chg"), 1L).otherwise(0L)).as("n"))) {
      (dist, _, _) =>
        val cand = adj.join(dist.select(col("id").as("src"), col("dist")), Seq("src"))
          .select(col("dst").as("id"), (col("dist") + col("w")).as("nd"))
          .groupBy("id").agg(min(col("nd")).as("nd"))
        dist.join(cand, Seq("id"), "full_outer")
          .select(col("id"),
            when(col("dist").isNull, col("nd"))
              .when(col("nd").isNull, col("dist"))
              .otherwise(least(col("dist"), col("nd"))).as("dist"),
            (col("dist").isNull || (col("nd").isNotNull && col("nd") < col("dist")))
              .as("chg"))
    } { (_, row) => detect && Iterate.long(row, 0) == 0L }
    val improvedLast = fp.trace.lastOption.exists(s => Iterate.long(s.row, 0) > 0L)
    adj.unpersist(false)
    (fp.state.select(col("id"), col("dist")), detect && improvedLast)
  }
}
