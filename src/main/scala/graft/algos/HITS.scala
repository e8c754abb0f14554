package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Iterate

/** HITS (hubs & authorities) power iteration over a directed edge table —
  * the LAGraph-layer link-analysis companion to [[PageRank]] (the
  * reference defers algorithms to LAGraph per `Demo/DO_NOT_BENCHMARK.txt`;
  * each half-step is a GrB_mxv / GrB_vxm over the +.* semiring,
  * `Source/GB_mxm.c`).
  *
  *   a_j <- Σ_{i→j} h_i   then L1-normalize;   h_i <- Σ_{i→j} a_j   then
  *   L1-normalize (sum = 1 — the SQL-mirrorable choice; any positive
  *   rescale of the classic L2 fixpoint direction).
  *
  * Spark shape: [[SALSA]]'s loop with unit edge weights (SALSA is HITS with
  * each half-step degree-normalized) — the adjacency is hash-partitioned by
  * src once and cached, plus a by-dst copy; each half-step is one
  * co-partitioned gather join + one hash agg, with the normalizing sum
  * observed during the state-materialization pass. Constant plan size, no
  * driver-side data.
  */
object HITS {

  /** (id, hub, auth) after exactly `k` full iterations; every vertex of
    * the edge-derived universe appears (0.0 where no in/out edges).
    */
  def runFixed(spark: SparkSession, edges: DataFrame, k: Int,
               numPartitions: Int = 0): DataFrame = {
    require(k >= 1, "HITS needs k >= 1 iterations")
    // h·1.0 == h exactly, so SALSA's loop with unit weights is HITS
    val ew = edges.select(col("src"), col("dst")).distinct()
      .select(col("src"), col("dst"), lit(1.0).as("wo"), lit(1.0).as("wi"))
    Iterate.withoutAQE(spark)(SALSA.loop(spark, ew, k, numPartitions))
  }
}
