package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Iterate

/** SimRank (Jeh & Widom 2002): "two pages are similar if they are linked
  * to by similar pages" — the classic link-graph vertex-pair similarity,
  * rounding out the HITS / SALSA / co-citation family. The reference layer
  * has no analogue; the recursion is pure semiring algebra over the
  * in-edge matrix (s ← C·Wᵀ s W with a pinned unit diagonal), expressed
  * here as two co-partitioned joins + one aggregation per iteration.
  *
  * Sparse pair-state: s₀ is the diagonal, and iteration t only ever
  * creates pairs reachable by equal-length REVERSE walks — on sparse link
  * graphs the state stays far below |V|², but it IS worst-case quadratic
  * (exact SimRank inherently is). For web-scale runs use `minScore` to
  * prune negligible pairs each round (standard truncated SimRank) or
  * restrict to a candidate pair set upstream; the fixed-k exact form here
  * is the oracle-checkable core.
  *
  * Determinism: per-pair contributions are summed as DECIMAL(38,15) —
  * exact, order-independent addition (double sums are partition-order
  * dependent) — so results are bit-identical at any parallelism and
  * mirrorable in the unrolled DuckDB oracle. C defaults to 13/16 = 0.8125
  * (dyadic, exact in FP64) instead of the paper's 0.8.
  */
object SimRank {

  /** (a, b, s) pairs with nonzero SimRank after exactly `k` iterations —
    * diagonal pinned at 1.0, off-diagonal s(a,b) = C/(|I(a)||I(b)|) ·
    * Σ_{i∈I(a), j∈I(b)} s_prev(i, j).
    */
  def runFixed(spark: SparkSession, edges: DataFrame, k: Int,
               c: Double = 0.8125, minScore: Double = 0.0,
               numPartitions: Int = 0): DataFrame = {
    require(k >= 0)
    val parts = Iterate.partitions(spark, numPartitions)
    val e = Iterate.cut(edges.select(col("src"), col("dst")).distinct()
      .repartition(parts, col("src")))
    val verts = Iterate.cut(
      e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id")))
        .distinct())
    val ind = Iterate.cut(
      e.groupBy(col("dst").as("id")).agg(count(lit(1)).cast("double").as("d")))
    val diag = verts.select(col("id").as("a"), col("id").as("b"),
      lit(1.0).as("s"))

    var s = Iterate.cutKeyed(diag, parts, "a")
    for (_ <- 1 to k) {
      // forward both pair endpoints along out-edges (= in-neighbors of the
      // new pair), aggregate exactly, then normalize by in-degree product
      val nxt0 = s
        .join(e.select(col("src").as("a"), col("dst").as("na")), Seq("a"))
        .join(e.select(col("src").as("b"), col("dst").as("nb")), Seq("b"))
        .filter(col("na") =!= col("nb"))
        .groupBy(col("na"), col("nb"))
        .agg(sum(col("s").cast("decimal(38,15)")).cast("double").as("sum"))
        .join(ind.select(col("id").as("na"), col("d").as("da")), Seq("na"))
        .join(ind.select(col("id").as("nb"), col("d").as("db")), Seq("nb"))
        .select(col("na").as("a"), col("nb").as("b"),
          (lit(c) * col("sum") / (col("da") * col("db"))).as("s"))
      val pruned = if (minScore > 0.0) nxt0.filter(col("s") >= minScore)
                   else nxt0
      val nxt = Iterate.cutKeyed(pruned.unionByName(diag), parts, "a")
      Iterate.free(s)
      s = nxt
    }
    s
  }
}
