package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Weisfeiler-Leman color refinement (1-WL / naive vertex refinement) — the
  * primitive behind graph-isomorphism screening and GNN expressiveness
  * analysis: iteratively recolor every vertex by its own color plus the
  * MULTISET of neighbor colors until the partition stabilizes (or k rounds).
  *
  * The multiset is folded with an order-independent arithmetic combiner
  * instead of an engine-private hash, so any engine reproduces the colors
  * bit-for-bit and a SQL oracle unrolls the rounds:
  *
  *   g(c)  = (A·c² + B·c + C) mod P        (nonlinear per-neighbor map)
  *   c'(v) = (D·c(v) + Σ_{u~v} g(c(u))) mod P
  *
  * with P = 2147483629 (the largest prime < 2^31). The nonlinearity makes
  * colliding multisets overwhelmingly unlikely (a plain Σc would conflate
  * {1,3} with {2,2}); like any WL implementation the refinement is an
  * UPPER bound on distinguishability either way. Σ g(c) is summed in
  * DECIMAL(38,0): each term is < 2^31, so even 10^12 neighbors stay well
  * inside 38 digits — exact and order-independent at any partitioning,
  * then one mod + cast back to long.
  *
  * Spark shape per round: one gather join of neighbor colors along the
  * src-partitioned undirected adjacency, one hash-agg by vertex, one
  * co-partitioned state merge with cutKeyed lineage truncation — exactly
  * the PageRank iteration shape, with an observed changed-colors count for
  * early exit once the partition is stable.
  */
object WLRefinement {

  val P = 2147483629L // largest prime below 2^31
  private val A = 1566083941L % P
  private val B = 1103515245L % P
  private val C = 12345L
  private val D = 69069L

  /** (id, color) after at most `maxRounds` refinement rounds. Early exit
    * uses the classic stability check: refinement only ever SPLITS color
    * classes, so the partition is stable exactly when the distinct-color
    * count stops growing (the color VALUES keep churning arithmetically
    * even at stability, so a changed-values count would never reach zero).
    * Initial color = 1 for every vertex, so round 1 refines by degree,
    * round 2 by the degree multiset, etc.
    */
  /** @param earlyExit stop at partition stability (class count unchanged).
    *                   Pass false for an exact `maxRounds`-round run — the
    *                   color values churn arithmetically even at stability,
    *                   so only a fixed round count is engine-independent
    *                   (what the unrolled SQL oracle replays).
    */
  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int,
          numPartitions: Int = 0, earlyExit: Boolean = true): DataFrame =
    Iterate.withoutAQE(spark)(runImpl(spark, edges, maxRounds, numPartitions,
      earlyExit))

  private def runImpl(spark: SparkSession, edges: DataFrame, maxRounds: Int,
                      numPartitions: Int, earlyExit: Boolean): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    val canon = edges.select(
        least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = canon.unionByName(canon.select(col("b").as("a"), col("a").as("b")))
      .repartition(parts, col("a"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val verts = und.select(col("a").as("id")).distinct()
    var state = Iterate.cutKeyed(
      verts.select(col("id"), lit(1L).as("c")), parts, "id")
    var round = 0
    var nClasses = 1L
    var stable = false
    while (round < maxRounds && !stable) {
      round += 1
      // g(c) per neighbor, summed exactly in DECIMAL(38,0), then one mod
      val g = ((lit(A) * col("c") % P * col("c") % P) + (lit(B) * col("c") % P)
        + lit(C)) % P
      val gathered = und
        .join(state.select(col("id").as("a"), col("c")), Seq("a"))
        .groupBy(col("b").as("id"))
        .agg(sum(g.cast("decimal(38,0)")).as("sg"))
      val merged = state.join(gathered, Seq("id"), "left")
        .select(col("id"),
          (((lit(D) * col("c") % P).cast("decimal(38,0)")
            + coalesce(col("sg"), lit(0).cast("decimal(38,0)")))
            % lit(P).cast("decimal(38,0)")).cast("long").as("c"))
      val next = Iterate.cutKeyed(merged, parts, "id")
      if (earlyExit) {
        // one scalar agg on the leaf-sized state: the class count
        val nc = next.agg(countDistinct(col("c"))).collect()(0).getLong(0)
        stable = nc == nClasses
        nClasses = nc
      }
      Iterate.free(state)
      state = next
    }
    und.unpersist(false)
    state.select(col("id"), col("c").as("color"))
  }
}
