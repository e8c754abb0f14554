package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Katz centrality by truncated power series: x = Σ_{j≤k} α^j A^j β·1,
  * iterated as x ← β + α·(A x) over the undirected adjacency — the classic
  * attenuation-based link centrality (α must stay below 1/λ_max; the
  * default 1/16 is BINARY-EXACT — with integer-weight inputs every partial
  * sum is an exact dyadic rational, so the result is bit-identical in any
  * engine at any parallelism — and safe for any graph with max degree < 16;
  * callers pick their own α for hubbier graphs, bounding λ_max by the max
  * degree from one aggregation first).
  *
  * Same loop shape as [[PageRank.runFixed]]: per iteration ONE
  * co-partitioned gather join + aggregation against a cutKeyed state leaf;
  * deterministic given the fixed iteration count (mirrored by an unrolled
  * SQL oracle).
  */
object Katz {

  def runFixed(spark: SparkSession, edges: DataFrame, k: Int = 5,
               alpha: Double = 0.0625, beta: Double = 1.0,
               numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(loop(spark, edges, k, alpha, beta, numPartitions))

  private def loop(spark: SparkSession, edges: DataFrame, k: Int,
                   alpha: Double, beta: Double, numPartitions: Int): DataFrame = {
    require(k >= 1, "need at least one term")
    val parts = Iterate.partitions(spark, numPartitions)

    val canon = edges.select(
        least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(canon.select(col("b").as("src"), col("a").as("dst")))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = Iterate.cutKeyed(
      und.select(col("src").as("id")).distinct(), parts, "id")

    val x = Iterate.fixpoint(verts.select(col("id"), lit(beta).as("x")),
        parts, Seq("id"), k) { (x, _, _) =>
      val gathered = und
        .join(x.select(col("id").as("src"), col("x").as("xs")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("xs")).as("s"))
      verts.join(gathered, Seq("id"), "left")
        .select(col("id"),
          (lit(beta) + lit(alpha) * coalesce(col("s"), lit(0.0))).as("x"))
    } { (_, _) => false }.state
    und.unpersist(false)
    x.select(col("id"), col("x").as("katz"))
  }
}
