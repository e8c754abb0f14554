package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Deterministic SECOND-ORDER biased walks — node2vec (Grover & Leskovec,
  * KDD 2016) sampling with the same Lehmer-slot arithmetic as
  * [[RandomWalk]], extended from a uniform choice to the p/q-biased
  * distribution over the ranked neighborhood: standing at `v` having
  * arrived from `prev`, neighbor `x` carries integer weight
  *
  *   retWgt    if x = prev            (return,   1/p)
  *   commonWgt if {prev,x} is an edge (stay,     1)
  *   outWgt    otherwise              (explore,  1/q)
  *
  * (defaults 1/2/4 = p=2, q=1/2 scaled to integers so every cumulative sum
  * is exact in any engine) and the hop lands on the neighbor whose
  * cumulative-weight interval contains
  *
  *   slot(w,t,v) = (w*48271 + t*11213 + v*7919) mod totalWeight(w,t,v).
  *
  * Step 1 has no predecessor and is the uniform first-order choice —
  * identical to [[RandomWalk]]'s hop 1. A pure function of (walk, step,
  * position), so resharding/retries can never change a walk, and a SQL
  * oracle replays it with ranked-adjacency joins + window prefix sums.
  *
  * Spark shape: ranked adjacency partitioned by vertex once and cached;
  * each hop = one equi-join frontier⋈adjacency, one broadcast-free edge-
  * membership left join (on the canonical pair), one window prefix-sum
  * partitioned by walk (frontier-sized, one row per walk per neighbor),
  * one filter. The big adjacency never reshuffles.
  */
object Node2Vec {

  /** (walk, step, v): every position of every walk; step 0 = start, walk id
    * = start vertex id. Edges taken as undirected, like [[RandomWalk]].
    */
  def run(spark: SparkSession, edges: DataFrame, starts: DataFrame,
          steps: Int, retWgt: Long = 1L, commonWgt: Long = 2L,
          outWgt: Long = 4L, numPartitions: Int = 0): DataFrame = {
    require(steps >= 1, "need at least one step")
    require(retWgt > 0 && commonWgt > 0 && outWgt > 0, "weights must be positive")
    val parts = Iterate.partitions(spark, numPartitions)

    val canon = edges.select(
        least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val und = canon.unionByName(canon.select(col("b").as("a"), col("a").as("b")))
    val ranked = und
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("b"))).cast("long") - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("a"))))
      .select(col("a").as("v"), col("b").as("nxt"), col("rk"), col("deg"))
      .repartition(parts, col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // step 1: uniform first-order hop (no predecessor context yet)
    val f0 = starts.select(col("id").as("walk"), col("id").as("v"))
    var out = f0.select(col("walk"), lit(0L).as("step"), col("v"))
    val slot1 = (col("walk") * lit(48271L) + lit(11213L) + col("v") * lit(7919L)) % col("deg")
    var frontier = f0.join(ranked, Seq("v"))
      .filter(col("rk") === slot1)
      .select(col("walk"), col("v").as("prev"), col("nxt").as("v"))
    out = out.unionByName(frontier.select(col("walk"), lit(1L).as("step"), col("v")))

    for (t <- 2 to steps) {
      val nbrs = frontier.join(ranked, Seq("v"))
        .join(canon.select(col("a").as("ca"), col("b").as("cb"), lit(true).as("isCommon")),
          least(col("prev"), col("nxt")) === col("ca") &&
            greatest(col("prev"), col("nxt")) === col("cb"), "left")
        .select(col("walk"), col("prev"), col("v"), col("nxt"), col("rk"),
          when(col("nxt") === col("prev"), lit(retWgt))
            .when(col("isCommon"), lit(commonWgt))
            .otherwise(lit(outWgt)).as("wgt"))
      val w = Window.partitionBy(col("walk")).orderBy(col("rk"))
      val cum = nbrs
        .withColumn("cum", coalesce(sum(col("wgt")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("tot", sum(col("wgt")).over(Window.partitionBy(col("walk"))))
      val slot = (col("walk") * lit(48271L) + lit(t.toLong) * lit(11213L)
        + col("v") * lit(7919L)) % col("tot")
      frontier = cum.filter(slot >= col("cum") && slot < col("cum") + col("wgt"))
        .select(col("walk"), col("v").as("prev"), col("nxt").as("v"))
      out = out.unionByName(frontier.select(col("walk"), lit(t.toLong).as("step"), col("v")))
    }
    out
  }
}
