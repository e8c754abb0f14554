package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Iterate

/** Densest-subgraph peel (Charikar's greedy, distributed à la Bahmani-
  * Kumar-Vassilvitskii): repeatedly delete EVERY vertex whose degree is at
  * most 2(1+ε)·ρ where ρ = m/n is the current average density — the round
  * whose starting subgraph maximizes ρ is a 2(1+ε)-approximation of the
  * densest subgraph, in O(log n / ε) rounds. The classic link-farm / dense-
  * community detector at web scale.
  *
  * ε is fixed at 1/2, so the peel test "deg ≤ 3·m/n" is the EXACT integer
  * comparison deg·n ≤ 3·m — every round of the algorithm is integer
  * arithmetic end to end and the SQL oracle replays it bit-for-bit.
  *
  * Spark shape: per round, one degree aggregation over the current edge
  * set, two scalar aggregates (n, m — one driver row), and one semi-join
  * to drop peeled endpoints; the surviving edge set is cutKeyed so the
  * plan stays leaf-sized across rounds. The edge set shrinks geometrically
  * (that is the O(log n) guarantee), so later rounds are cheap.
  *
  * @return (round, n, m, density): the subgraph stats at the START of each
  *         round, while non-empty; max density over rounds is the answer.
  */
object DensestSubgraph {

  def peel(spark: SparkSession, edges: DataFrame, rounds: Int = 12,
           numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(loop(spark, edges, rounds, numPartitions))

  private def loop(spark: SparkSession, edges: DataFrame, rounds: Int,
                   numPartitions: Int): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    var e = Iterate.cutKeyed(edges.select(
        least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct(), parts, "src")
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Double)]

    var r = 0
    var done = false
    while (r < rounds && !done) {
      val both = e.select(col("src").as("v"))
        .unionByName(e.select(col("dst").as("v")))
      val deg = both.groupBy("v").agg(count(lit(1)).as("d"))
      val row = deg.agg(count(lit(1)).as("n"), sum(col("d")).as("m2")).head
      val n = row.getLong(0)
      val m = if (row.isNullAt(1)) 0L else row.getLong(1) / 2
      if (n == 0) done = true
      else {
        stats += ((r, n, m, m.toDouble / n))
        // exact integer peel test: deg ≤ 3·m/n  ⟺  deg·n ≤ 3·m
        val keep = deg.filter(col("d") * n > lit(3L) * m).select("v")
        val next = Iterate.cutKeyed(
          e.join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
            .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
            .select(col("src"), col("dst")), parts, "src")
        Iterate.free(e)
        e = next
        r += 1
      }
    }
    import spark.implicits._
    stats.toSeq.toDF("round", "n", "m", "density")
      .select(col("round").cast("long").as("round"), col("n"), col("m"),
        round(col("density"), 6).as("density"))
  }
}
