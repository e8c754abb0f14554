package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Single-source widest path (bottleneck shortest path) via the MAX-MIN
  * semiring — the third classic path semiring after min-plus ([[SSSP]]) and
  * plus-times ([[PageRank]]): width(v) = max over s⇝v paths of the minimum
  * edge weight along the path (the best achievable bandwidth from s). Same
  * delta-frontier Bellman-Ford shape as [[SSSP]] with (min,+) swapped for
  * (max,min); monotone over a finite weight set, so the fixpoint is exact.
  *
  * The source is seeded at `Unbounded` = 1e18 ("no constraint yet"), an
  * exactly-representable finite sentinel rather than +∞ so every emitted
  * width is a plain finite double any engine hashes identically; a real
  * cycle back into the source can only lower it (min against real weights),
  * and LEAST(1e18, w) = w for every real edge weight.
  *
  * Spark shape: the (max, min w) [[Relax]]ation — adjacency hash-partitioned
  * by src once; each round joins only the changed frontier, aggregates
  * max(min(width, w)) by dst, and keeps strict improvements — late rounds
  * touch a shrinking edge subset, and the round count is bounded by the
  * longest useful path.
  */
object WidestPath {

  val Unbounded = 1.0e18

  /** (id, width) for every vertex reachable from `source` (the source
    * itself at Unbounded, lowered only if a cycle constrains it — it
    * cannot, since max keeps the seed).
    */
  def run(spark: SparkSession, edges: DataFrame, source: Long,
          maxIter: Int = 10000, numPartitions: Int = 0): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    val adj = edges.select(col("src"), col("dst"), col("w"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val fp = Relax(adj, spark.range(1).select(lit(source).as("id"), lit(Unbounded).as("wd")),
      parts, maxIter, maximize = true)(least(col("wd"), col("w")))
    adj.unpersist(false)
    fp.state.select(col("id"), col("wd").as("width"))
  }
}
