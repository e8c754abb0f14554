package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Bipartiteness test / odd-cycle detection by BFS-parity 2-coloring:
  * every vertex gets (comp, side) where comp is its component's min id and
  * side = (shortest-hop distance to that root) mod 2; a component is
  * bipartite iff NO edge joins two same-side endpoints (König: a graph is
  * bipartite iff it has no odd cycle, and any same-side edge closes one).
  * The per-component odd-edge count is the certificate either way.
  *
  * Spark shape: ONE min-label fixpoint loop carrying the pair state
  * (comp, dist) under lexicographic min — the [[ConnectedComponents]] loop
  * with a struct-min instead of a scalar min (same single gather exchange +
  * co-partitioned merge per round against a cutKeyed leaf, changed-count
  * observed in the state pass). At the fixpoint dist IS the BFS level from
  * the component root (Bellman-Ford on hop count), so side is deterministic
  * regardless of partitioning. The odd-edge check is one further join of
  * the edge table against the side table on both endpoints.
  *
  * O(diameter) rounds — the small-diameter design point shared with the
  * plain CC loop; parity needs shortest-path levels, so a FastSV-style
  * shortcut does not apply (its hops are not graph edges).
  */
object Bipartite {

  /** @return (id, comp, side, odd_edges, bipartite): per-vertex 2-coloring
    *         plus its component's odd-edge certificate (bipartite = 0/1).
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 600,
          numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(loop(spark, edges, maxIter, numPartitions))

  private def loop(spark: SparkSession, edges: DataFrame, maxIter: Int,
                   numPartitions: Int): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    val canon = edges.select(
        least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val und = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(canon.select(col("b").as("src"), col("a").as("dst")))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val state = Iterate.fixpoint(und.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp"), lit(0L).as("dist")),
      parts, Seq("id"), maxIter,
      metrics = Seq(sum(when(col("chg"), 1L).otherwise(0L)).as("changed"))) {
      (state, _, _) =>
        val labT = state.select(
          col("id").as("src"), col("comp").as("c"), col("dist").as("dd"))
        // lexicographic neighbor min over (label, dist+1) — struct min keeps
        // it one aggregate, order-insensitive, skew-safe like CC's scalar min
        val nm = und.join(labT, Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(min(struct(col("c"), (col("dd") + 1L).as("dd"))).as("cand"))
        val takes = coalesce(
          col("cand.c") < col("comp") ||
            (col("cand.c") === col("comp") && col("cand.dd") < col("dist")),
          lit(false))
        state.join(nm, Seq("id"), "left")
          .select(col("id"),
            when(takes, col("cand.c")).otherwise(col("comp")).as("comp"),
            when(takes, col("cand.dd")).otherwise(col("dist")).as("dist"),
            takes.as("chg"))
    } { (_, row) => Iterate.long(row, 0) == 0L }.state

    val side = state.select(col("id"), col("comp"), (col("dist") % 2).as("side"))
    val odd = canon
      .join(side.select(col("id").as("a"), col("comp"), col("side").as("sa")), Seq("a"))
      .join(side.select(col("id").as("b"), col("side").as("sb")), Seq("b"))
      .filter(col("sa") === col("sb"))
      .groupBy(col("comp")).agg(count(lit(1)).as("odd_edges"))
    val out = side.join(odd, Seq("comp"), "left")
      .select(col("id"), col("comp"), col("side"),
        coalesce(col("odd_edges"), lit(0L)).as("odd_edges"),
        when(coalesce(col("odd_edges"), lit(0L)) === 0L, 1L).otherwise(0L)
          .as("bipartite"))
    und.unpersist(false); canon.unpersist(false)
    out
  }
}
