package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Truncated hitting time to a seed set: h_k(u) = E[min(T_S, k)] where T_S
  * is the first-arrival step of a simple random walk (uniform over the
  * undirected neighbors) at any seed. The exact dynamic program
  *
  *   h_0 ≡ 0,   h_{t+1}(u) = 0 if u ∈ S else 1 + (1/deg u)·Σ_{v~u} h_t(v)
  *
  * runs k fixed steps — the "expected click distance to a trusted page"
  * companion of TrustRank (distance-based spam/authority signals; Mei et
  * al.'s truncated hitting time is exactly this DP). Values are bounded by
  * k; unreached mass saturates there.
  *
  * Spark shape: the [[Eigenvector]] loop — one gather exchange + one
  * co-partitioned merge per step against a cutKeyed state leaf, AQE off,
  * constant-size plan. The seed test is a broadcast-trivial literal isin.
  * Arithmetic is sums + one division by the integer degree per vertex —
  * the unrolled-SQL oracle discipline PageRank is green under.
  */
object HittingTime {

  def runFixed(spark: SparkSession, edges: DataFrame, seeds: Seq[Long],
               k: Int = 6, numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(loop(spark, edges, seeds, k, numPartitions))

  private def loop(spark: SparkSession, edges: DataFrame, seeds: Seq[Long],
                   k: Int, numPartitions: Int): DataFrame = {
    require(k >= 1, "need at least one step")
    require(seeds.nonEmpty, "need a seed set")
    val parts = Iterate.partitions(spark, numPartitions)

    val canon = edges.select(
        least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(canon.select(col("b").as("src"), col("a").as("dst")))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = Iterate.cutKeyed(
      und.groupBy(col("src").as("id")).agg(count(lit(1)).cast("double").as("d")),
      parts, "id")
    val isSeed = col("id").isin(seeds: _*)

    val h = Iterate.fixpoint(deg.select(col("id"), lit(0.0).as("h")),
        parts, Seq("id"), k) { (h, _, _) =>
      val gathered = und
        .join(h.select(col("id").as("src"), col("h").as("hs")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("hs")).as("g"))
      deg.join(gathered, Seq("id"), "left")
        .select(col("id"), when(isSeed, 0.0)
          .otherwise(lit(1.0) + coalesce(col("g"), lit(0.0)) / col("d")).as("h"))
    } { (_, _) => false }.state
    und.unpersist(false)
    h
  }
}
