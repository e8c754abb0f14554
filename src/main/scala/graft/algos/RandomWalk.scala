package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Deterministic random walks — the sampling primitive of web-graph
  * embedding pipelines (DeepWalk/node2vec-style corpus generation), built
  * on the same Lehmer slot arithmetic the text samplers use so ANY engine
  * reproduces the walks bit-for-bit: hop `t` of walk `w` standing at
  * vertex `v` moves to the neighbor with rank
  *
  *   slot(w,t,v) = (w*48271 + t*11213 + v*7919) mod deg(v)
  *
  * where neighbors are ranked 0..deg-1 in ascending dst order. No RNG
  * state, no seed tables — the walk is a pure function of (w,t,v), so
  * resharding/retries can never change the output (the property a 100 TB
  * corpus job needs), and a SQL oracle replays it with a row_number join.
  *
  * Spark shape: the ranked adjacency (src, dst, rk) is hash-partitioned by
  * src once and cached; each hop is one equi-join of the (small) frontier
  * against it — the big side never moves, the frontier reshuffles by its
  * current vertex. Walk count scales with the start set, hops are a small
  * constant: O(hops) co-partitioned joins total.
  */
object RandomWalk {

  /** (walk, step, v): every position of every walk, step 0 = the start
    * vertex (walk id = start vertex id). `edges` is taken as UNDIRECTED
    * (canonical both-direction view, self-loops dropped) so every vertex
    * has deg >= 1 and walks never strand.
    */
  def run(spark: SparkSession, edges: DataFrame, starts: DataFrame,
          steps: Int, numPartitions: Int = 0): DataFrame = {
    require(steps >= 1, "need at least one step")
    val parts = Iterate.partitions(spark, numPartitions)

    val canon = edges.select(
        least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = canon.unionByName(canon.select(col("b").as("a"), col("a").as("b")))
    // ranked adjacency: rk is 0-based position in ascending-dst order, deg
    // rides along so the slot modulus needs no second join
    val ranked = und
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("b"))).cast("long") - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("a"))))
      .select(col("a").as("v"), col("b").as("nxt"), col("rk"), col("deg"))
      .repartition(parts, col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var frontier = starts.select(col("id").as("walk"), col("id").as("v"))
    var out = frontier.select(col("walk"), lit(0L).as("step"), col("v"))
    for (t <- 1 to steps) {
      val slot = (col("walk") * lit(48271L) + lit(t.toLong) * lit(11213L)
        + col("v") * lit(7919L)) % col("deg")
      frontier = frontier.join(ranked, Seq("v"))
        .filter(col("rk") === slot)
        .select(col("walk"), col("nxt").as("v"))
      out = out.unionByName(
        frontier.select(col("walk"), lit(t.toLong).as("step"), col("v")))
    }
    out
  }
}
