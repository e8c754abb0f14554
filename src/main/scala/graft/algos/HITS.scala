package graft.algos

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
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
  * Spark shape (same discipline as [[PageRank]]): the adjacency is
  * hash-partitioned by src once and cached (plus a by-dst copy — HITS
  * gathers along BOTH directions, so the by-dst copy buys a co-partitioned
  * join instead of a per-iteration exchange of the big side); each
  * half-step is one co-partitioned gather join + one hash agg, with the
  * normalizing sum OBSERVED during the state-materialization pass (no
  * separate stats job), and lineage cut per half-step via
  * [[Iterate.cutKeyed]]. Constant plan size, no driver-side data.
  */
object HITS {

  /** (id, hub, auth) after exactly `k` full iterations; every vertex of
    * the edge-derived universe appears (0.0 where no in/out edges).
    */
  def runFixed(spark: SparkSession, edges: DataFrame, k: Int,
               numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(loop(spark, edges, k, numPartitions))

  private def loop(spark: SparkSession, edges: DataFrame, k: Int,
                   numPartitions: Int): DataFrame = {
    require(k >= 1, "HITS needs k >= 1 iterations")
    val parts = Iterate.partitions(spark, numPartitions)

    val e = edges.select(col("src"), col("dst")).distinct()
    val bySrc = e.repartition(parts, col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val byDst = e.repartition(parts, col("dst")).persist(StorageLevel.MEMORY_AND_DISK)

    val verts = bySrc.select(col("src").as("id"))
      .unionByName(bySrc.select(col("dst").as("id"))).distinct()
      .repartition(parts, col("id"))
    val n = verts.count()

    // state (id, h, a); h0 = a0 = 1/n (any uniform start reaches the same
    // L1-normalized sequence)
    var state = Iterate.cutKeyed(
      verts.select(col("id"), lit(1.0 / n).as("h"), lit(1.0 / n).as("a")),
      parts, "id")

    for (i <- 1 to k) {
      // auth half-step: gather h along src→dst (by-dst copy keeps the big
      // side exchange-free), observe the L1 sum in the same pass
      val hSrc = state.select(col("id").as("src"), col("h"))
      val araw = byDst.join(hSrc, Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("ar"))
      val aPre = state.select(col("id"), col("h"), col("a"))
        .join(araw, Seq("id"), "left")
        .select(col("id"), col("h"), coalesce(col("ar"), lit(0.0)).as("ar"))
        .observe(s"hits_a_$i", sum(col("ar")).as("s"))
      val aState = Iterate.cutKeyed(aPre, parts, "id")
      val aSum = observedD(aPre, s"hits_a_$i")(
        aState.agg(sum(col("ar"))).head)
      val a1 = aState.select(col("id"), col("h"),
        (col("ar") / lit(aSum)).as("a"))

      // hub half-step: gather a along dst←src (by-src copy co-partitioned)
      val aDst = a1.select(col("id").as("dst"), col("a"))
      val hraw = bySrc.join(aDst, Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("hr"))
      val hPre = a1.join(hraw, Seq("id"), "left")
        .select(col("id"), coalesce(col("hr"), lit(0.0)).as("hr"), col("a"))
        .observe(s"hits_h_$i", sum(col("hr")).as("s"))
      val hState = Iterate.cutKeyed(hPre, parts, "id")
      val hSum = observedD(hPre, s"hits_h_$i")(
        hState.agg(sum(col("hr"))).head)
      val next = Iterate.cutKeyed(
        hState.select(col("id"), (col("hr") / lit(hSum)).as("h"), col("a")),
        parts, "id")
      Iterate.free(state)
      state = next
    }
    bySrc.unpersist(false); byDst.unpersist(false)
    state.select(col("id"), col("h").as("hub"), col("a").as("auth"))
  }

  private def observedD(df: DataFrame, name: String)(fallback: => Row): Double = {
    val row = Iterate.observedRow(df, name)(fallback)
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }
}
