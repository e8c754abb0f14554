package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Single-source shortest paths via the min-plus semiring — the classic
  * GraphBLAS Bellman-Ford iteration d = min(d, min.+(d, A)) to fixpoint
  * (SURVEY.md §2.9 MinPlus), as a (min, +w) [[Relax]]ation: only vertices
  * whose distance changed propagate next round (delta frontier), so late
  * rounds touch a shrinking edge subset.
  */
object SSSP {

  /** Returns (id, dist) for reachable vertices. Edge weights must be >= 0 for
    * termination within |V| rounds (Bellman-Ford bound enforced by maxIter).
    *
    * With `checkpointDir`, distance snapshots land every `checkpointEvery`
    * rounds (graft.core.Checkpoint) and a rerun resumes from the newest
    * complete one with the FULL distance table as the frontier — a correct
    * over-approximation (re-relaxing settled vertices can only rediscover
    * their current distances), costing one wider round after resume.
    */
  def run(spark: SparkSession, edges: DataFrame, source: Long, maxIter: Int = 10000,
          numPartitions: Int = 0, checkpointDir: Option[String] = None,
          checkpointEvery: Int = 10): DataFrame = {
    val snapshots = Iterate.Snapshots(checkpointDir, checkpointEvery, Nil, s"src=$source",
      row => Seq("relaxed" -> Iterate.long(row, 0)))
    val parts = Iterate.partitions(spark, numPartitions)

    val adj = edges.select(col("src"), col("dst"), col("w"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val fp = Relax(adj, spark.range(1).select(lit(source).as("id"), lit(0.0).as("dist")),
      parts, maxIter, checkpoint = snapshots)(col("dist") + col("w"))
    adj.unpersist(false)
    fp.state.select(col("id"), col("dist"))
  }
}
