package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Eigenvector centrality by fixed-k power iteration over the undirected
  * adjacency: x ← A x, L1-renormalized each step (the L1 norm keeps the
  * oracle arithmetic to sums and one division — same float discipline as
  * [[PageRank.runFixed]], which is oracle-green under round-8 on both
  * engines). Converges toward the Perron vector on a connected non-bipartite
  * graph; with fixed k the output is a deterministic function of the input,
  * mirrored by an unrolled SQL oracle.
  *
  * Loop shape: identical to [[Katz]] — one co-partitioned gather join + one
  * aggregation per iteration against a cutKeyed leaf, plus a 1-row L1
  * aggregate (observed in the same pass at scale; here a plain agg since
  * k is small and fixed).
  */
object Eigenvector {

  def runFixed(spark: SparkSession, edges: DataFrame, k: Int = 5,
               numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(loop(spark, edges, k, numPartitions))

  private def loop(spark: SparkSession, edges: DataFrame, k: Int,
                   numPartitions: Int): DataFrame = {
    require(k >= 1, "need at least one iteration")
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
    val n = verts.count()

    // the L1 normalisation is an aggregate over the step's own output, so
    // it runs inside the step (one job) before the cut
    val x = Iterate.fixpoint(verts.select(col("id"), (lit(1.0) / n).as("x")),
        parts, Seq("id"), k) { (x, _, _) =>
      val gathered = und
        .join(x.select(col("id").as("src"), col("x").as("xs")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("xs")).as("s"))
      val pre = verts.join(gathered, Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0.0)).as("s"))
      val l1 = pre.agg(sum(col("s"))).head.getDouble(0)
      pre.select(col("id"), (col("s") / l1).as("x"))
    } { (_, _) => false }.state
    und.unpersist(false)
    x.select(col("id"), col("x").as("eig"))
  }
}
