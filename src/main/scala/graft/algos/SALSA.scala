package graft.algos

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** SALSA (Lempel & Moran 2000) — the stochastic cousin of [[HITS]]: the
  * same alternating hub/authority walk but with each half-step
  * DEGREE-NORMALIZED, i.e. a random surfer stepping backward then forward
  * across the bipartite hub/authority decomposition of the link graph:
  *
  *   a_j ← Σ_{i→j} h_i / outdeg(i)     then L1-renormalize,
  *   h_i ← Σ_{i→j} a_j / indeg(j)      then L1-renormalize.
  *
  * (The renormalization restores the probability mass that leaks to
  * vertices with no out- or in-edges; on a graph whose support is a single
  * connected bipartite component the converged authority vector is simply
  * indegree/Σindegree — SALSA's celebrated closed form — which the fixed-k
  * iterate approaches but does not assume.) Each half-step is a GrB_vxm
  * over +.* against the row- resp. column-scaled adjacency
  * (`Source/GB_mxm.c`, rowscale/colscale as in GBMatrix.rowscale).
  *
  * Spark shape ([[HITS]] runs this loop with unit weights): the adjacency is cached twice (by
  * src and by dst) with the 1/outdeg and 1/indeg edge weights attached
  * ONCE at build time (a per-vertex-sized degree join, never repeated in
  * the loop); each half-step is one co-partitioned gather join + one hash
  * agg with the L1 sum OBSERVED in the state-materialization pass, lineage
  * cut per half-step. Constant plan size, no driver-side data.
  */
object SALSA {

  /** (id, hub, auth) after exactly `k` full iterations over every vertex
    * of the edge-derived universe (0.0 where no out/in edges).
    */
  def runFixed(spark: SparkSession, edges: DataFrame, k: Int,
               numPartitions: Int = 0): DataFrame = {
    require(k >= 1, "SALSA needs k >= 1 iterations")
    val e = edges.select(col("src"), col("dst")).distinct()
    val outd = e.groupBy("src").agg(count(lit(1)).as("od"))
    val ind = e.groupBy("dst").agg(count(lit(1)).as("idg"))
    val ew = e.join(outd, Seq("src")).join(ind, Seq("dst"))
      .select(col("src"), col("dst"),
        (lit(1.0) / col("od")).as("wo"), (lit(1.0) / col("idg")).as("wi"))
    Iterate.withoutAQE(spark)(loop(spark, ew, k, numPartitions))
  }

  /** The alternating walk over distinct edges `ew` (src, dst, wo, wi): the
    * auth half-step pushes h·wo along src→dst, the hub half-step a·wi back.
    * [[HITS]] is this loop with unit weights.
    */
  private[algos] def loop(spark: SparkSession, ew: DataFrame, k: Int,
                          numPartitions: Int): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    val bySrc = ew.repartition(parts, col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val byDst = ew.repartition(parts, col("dst")).persist(StorageLevel.MEMORY_AND_DISK)

    val verts = bySrc.select(col("src").as("id"))
      .unionByName(bySrc.select(col("dst").as("id"))).distinct()
      .repartition(parts, col("id"))
    val n = verts.count()

    var state = Iterate.cutKeyed(
      verts.select(col("id"), lit(1.0 / n).as("h"), lit(1.0 / n).as("a")),
      parts, "id")

    for (i <- 1 to k) {
      // auth half-step: push h/outdeg along src→dst
      val hSrc = state.select(col("id").as("src"), col("h"))
      val araw = byDst.join(hSrc, Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("h") * col("wo")).as("ar"))
      val aPre = state.select(col("id"), col("h"))
        .join(araw, Seq("id"), "left")
        .select(col("id"), col("h"), coalesce(col("ar"), lit(0.0)).as("ar"))
        .observe(s"salsa_a_$i", sum(col("ar")).as("s"))
      val aState = Iterate.cutKeyed(aPre, parts, "id")
      val aSum = observedD(aPre, s"salsa_a_$i")(
        aState.agg(sum(col("ar"))).head)
      val a1 = aState.select(col("id"), col("h"),
        (col("ar") / lit(aSum)).as("a"))

      // hub half-step: push a/indeg along dst←src
      val aDst = a1.select(col("id").as("dst"), col("a"))
      val hraw = bySrc.join(aDst, Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a") * col("wi")).as("hr"))
      val hPre = a1.join(hraw, Seq("id"), "left")
        .select(col("id"), coalesce(col("hr"), lit(0.0)).as("hr"), col("a"))
        .observe(s"salsa_h_$i", sum(col("hr")).as("s"))
      val hState = Iterate.cutKeyed(hPre, parts, "id")
      val hSum = observedD(hPre, s"salsa_h_$i")(
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
