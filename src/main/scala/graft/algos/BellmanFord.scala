package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Bellman-Ford over SIGNED integer weights — the min-plus semiring case
  * [[SSSP]] leaves out: exact long distances, a fixed round count, and the
  * detection of a reachable negative cycle (which never settles). It runs
  * the textbook synchronous schedule as the (min, +w) [[Relax]]ation: a
  * round relaxes the out-edges of every vertex whose distance changed in
  * the round before, which after round k gives exactly the distances of k
  * rounds relaxing EVERY edge against the full table (an unchanged vertex
  * re-offers only candidates already applied).
  *
  * Spark shape per round: one src-keyed co-partitioned join of the
  * adjacency against the changed vertices, one dst-keyed min-aggregation,
  * one keyed merge — constant plan size via Iterate.fixpoint. |V|·|E| total
  * work is the algorithm's own bound; exact long arithmetic end to end.
  */
object BellmanFord {

  /** k synchronous relaxation rounds from `source` (edges: src, dst, long w).
    * After k rounds dist(v) = weight of the lightest ≤k-hop walk — exact
    * integers, deterministic at any parallelism. Stops early at a fixpoint,
    * which later rounds would not change.
    */
  def runFixed(spark: SparkSession, edges: DataFrame, source: Long,
               k: Int): DataFrame =
    loop(spark, edges, source, k)._1

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
    loop(spark, edges, source, n.toInt)
  }

  private def loop(spark: SparkSession, edges: DataFrame, source: Long,
                   k: Int): (DataFrame, Boolean) = {
    val parts = Iterate.partitions(spark, 0)
    val adj = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val fp = Relax(adj, spark.range(1).select(lit(source).as("id"), lit(0L).as("dist")),
      parts, k)(col("dist") + col("w"))
    adj.unpersist(false)
    (fp.state.select(col("id"), col("dist")), Relax.lastChanged(fp) > 0L)
  }
}
