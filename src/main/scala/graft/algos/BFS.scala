package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Level-synchronous BFS with the reference's semantics
  * (GraphBLAS/@GrB/bfs.m): per level, v<q> = level (subassign under the
  * frontier's structural mask, bfs.m:136), then
  * q<~v,replace> = q * A with the any.pair semiring and COMPLEMENTED mask
  * (bfs.m:139-140) — i.e. expand the frontier and drop already-visited
  * vertices. Parent variant uses any.first with q(i)=i ids (bfs.m:149-167);
  * ANY made deterministic as MIN parent.
  *
  * Spark shape: the (min, +1) [[Relax]]ation over (level, parent) — the
  * frontier is the vertices first reached last level, a vertex is only ever
  * reached at its BFS level, and min over (level, src) picks the min parent
  * one level up. One co-partitioned gather and one keyed cut per level.
  */
object BFS {

  /** Returns (id, level, parent) for reachable vertices; source has level 0,
    * parent = itself.
    *
    * With `checkpointDir`, snapshots land every `checkpointEvery` levels and
    * a rerun resumes from the newest one with ALL visited vertices as the
    * frontier — it re-derives only the true frontier on the resume level.
    */
  def run(spark: SparkSession, edges: DataFrame, source: Long, maxIter: Int = 10000,
          numPartitions: Int = 0, checkpointDir: Option[String] = None,
          checkpointEvery: Int = 10): DataFrame = {
    val snapshots = Iterate.Snapshots(checkpointDir, checkpointEvery, Nil, s"src=$source",
      row => Seq("frontier" -> Iterate.long(row, 0)))
    val parts = Iterate.partitions(spark, numPartitions)

    // repartition(src) BEFORE the distinct: hash(src) satisfies the dedup
    // agg's ClusteredDistribution(src,dst) (subset rule), one exchange in
    // setup instead of two — same fusion as PageRank's adjacency
    val adj = edges.select(col("src"), col("dst"))
      .repartition(parts, col("src"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    val fp = Relax(adj, spark.range(1).select(lit(source).as("id"),
        lit(0).as("level"), lit(source).as("parent")), parts, maxIter,
        checkpoint = snapshots)(
      struct((col("level") + 1).as("level"), col("src").cast("long").as("parent")))
    adj.unpersist(false)
    fp.state.select(col("id"), col("level"), col("parent"))
  }
}
