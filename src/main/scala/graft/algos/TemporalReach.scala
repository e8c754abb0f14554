package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Earliest-arrival time-respecting reachability over a TEMPORAL edge table
  * (src, dst, ts): a path is valid only if its edge timestamps strictly
  * increase, and `arrival(v)` = the earliest time any such path from the
  * source reaches v (Wu et al., "Path Problems in Temporal Graphs", VLDB
  * 2014). This is the crawl-frontier / event-propagation primitive — "which
  * pages could a signal starting at s have reached, and when" — that a
  * static closure over the same edges overstates (an edge taken BEFORE the
  * signal arrived cannot carry it).
  *
  * Semiring view: min-arrival Bellman-Ford where the edge relaxation is
  * GATED (edge u→v at ts contributes ts only when ts > arrival(u)).
  * Monotone: arrivals only decrease, and decreasing arrival(u) only ENABLES
  * more edges, so the delta-frontier fixpoint is exact. Round count is
  * bounded by the longest strictly-increasing timestamp chain, i.e. the
  * number of distinct timestamps — at web scale that's the crawl-epoch
  * count, a small constant, not graph diameter.
  *
  * Spark shape: the (min, ts) [[Relax]]ation with the edge gate
  * ts > arrival(src) — adjacency hash-partitioned by src once; each round
  * joins only vertices whose arrival improved, one min-aggregate by dst.
  * The source is seeded at arrival −1 ("present at start"; every real
  * timestamp ≥ 0 qualifies) and is emitted with that sentinel.
  */
object TemporalReach {

  /** (id, arrival) for every temporally reachable vertex; the source row
    * carries arrival −1.
    */
  def run(spark: SparkSession, edges: DataFrame, source: Long,
          maxIter: Int = 10000, numPartitions: Int = 0): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    val adj = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("ts").cast("long").as("ts"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val fp = Relax(adj, spark.range(1).select(lit(source).as("id"), lit(-1L).as("arr")),
      parts, maxIter, gate = col("ts") > col("arr"))(col("ts"))
    adj.unpersist(false)
    fp.state.select(col("id"), col("arr").as("arrival"))
  }
}
