package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Iterate

/** k-core: the maximal subgraph in which every vertex has degree >= k —
  * the LAGraph algorithm-layer companion the reference defers to
  * (`Demo/DO_NOT_BENCHMARK.txt`; the per-round machinery is the masked
  * degree-reduce + select of `Source/GB_reduce_to_vector.c` /
  * `GB_select.c` semantics).
  *
  * Spark shape: the loop state is the surviving canonical lo<hi edge set
  * (exactly [[KTruss]]'s idiom — a monotone peel, so checkpoint/resume is
  * a plain continue). Each round is ONE degree aggregation over the
  * undirected view plus two semi-joins, the surviving-edge count observed
  * during the cut pass (no extra job). Rounds are O(peel depth); each
  * round's work is O(surviving edges) — the web-scale shape. The final
  * per-vertex degrees come for free from the last round's aggregation.
  */
object KCore {

  /** Surviving vertices of the k-core: (id, core_deg) where core_deg is the
    * vertex's degree WITHIN the core (>= k by construction).
    */
  def run(spark: SparkSession, edges: DataFrame, k: Int, maxIter: Int = 100,
          numPartitions: Int = 0): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    core(spark, edges, k, maxIter, numPartitions)
  }

  /** Fixed-round variant: at most `rounds` peel rounds of [[run]] — the
    * SQL-oracle-checkable unrolled form. A round that keeps every edge is a
    * fixpoint, so stopping there gives exactly the core of all `rounds`
    * rounds.
    */
  def runFixed(spark: SparkSession, edges: DataFrame, k: Int, rounds: Int,
               numPartitions: Int = 0): DataFrame =
    core(spark, edges, k, rounds, numPartitions)

  private def core(spark: SparkSession, edges: DataFrame, k: Int,
                   maxIter: Int, numPartitions: Int): DataFrame = {
    val edgeCount = count(lit(1)).as("n")
    val canon = Iterate.fixpoint(canonical(spark, edges, numPartitions),
        0, Nil, maxIter, metrics = Seq(edgeCount), initMetrics = Seq(edgeCount)) {
      (canon, _, _) => peel(canon, k)
    } { (prev, row) => Iterate.long(row, 0) == Iterate.long(prev, 0) }.state
    degrees(canon).filter(col("core_deg") >= k)
  }

  /** Simple undirected canonical edges (lo < hi), laid out by lo. */
  private def canonical(spark: SparkSession, edges: DataFrame,
                        numPartitions: Int): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("lo"), greatest(col("src"), col("dst")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
      .repartition(Iterate.partitions(spark, numPartitions), col("lo"))

  private def degrees(canon: DataFrame): DataFrame =
    canon.select(col("lo").as("id"))
      .unionByName(canon.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("core_deg"))

  /** One peel round: drop every edge with an endpoint of degree < k. */
  private def peel(canon: DataFrame, k: Int): DataFrame = {
    val keep = degrees(canon).filter(col("core_deg") >= k).select(col("id"))
    canon
      .join(keep.select(col("id").as("lo")), Seq("lo"), "left_semi")
      .join(keep.select(col("id").as("hi")), Seq("hi"), "left_semi")
      .select(col("lo"), col("hi"))
  }

  /** [[peel]] for [[coreness]]'s own loop: the cut surviving edges and their
    * count, observed during the cut pass (no extra job). Frees the superseded
    * state.
    */
  private def round(canon: DataFrame, k: Int): (DataFrame, Long) = {
    val name = s"kcore_${System.identityHashCode(canon)}"
    val keptPre = peel(canon, k).observe(name, count(lit(1)).as("n"))
    val kept = Iterate.cut(keptPre)
    val n = Iterate.observedLong(keptPre, name)(kept.count())
    Iterate.free(canon)
    (kept, n)
  }

  /** Full coreness decomposition: (id, coreness) = the largest k for which
    * the vertex survives in the k-core. Standard peel: k starts at 1; when
    * the k-core is stable, bump k and record the vertices peeled at that
    * level. O(degeneracy) outer levels; each inner round is the same
    * O(surviving edges) peel as [[run]].
    */
  def coreness(spark: SparkSession, edges: DataFrame, maxK: Int = 1000,
               numPartitions: Int = 0): DataFrame = {
    var canon = Iterate.cut(canonical(spark, edges, numPartitions))
    var nvals = canon.count()
    // vertices with no surviving edge at level k have coreness k-1; isolated
    // inputs never appear (edge-derived universe), matching the convention
    var out: DataFrame = null
    var alive = canon.select(col("lo").as("id"))
      .unionByName(canon.select(col("hi").as("id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    alive.count() // materialize BEFORE round() frees the canon leaf
    var k = 1
    while (nvals > 0 && k <= maxK) {
      var stable = false
      while (!stable && nvals > 0) {
        val (kept, newN) = round(canon, k)
        stable = newN == nvals
        canon = kept
        nvals = newN
      }
      val surv = canon.select(col("lo").as("id"))
        .unionByName(canon.select(col("hi").as("id"))).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      surv.count()
      val peeled = alive.join(surv, Seq("id"), "left_anti")
        .select(col("id"), lit(k - 1).cast("long").as("coreness"))
      out = if (out == null) peeled else out.unionByName(peeled)
      out = Iterate.cut(out)
      alive.unpersist(false)
      alive = surv
      k += 1
    }
    val res = if (out == null) alive.select(col("id"), lit(0L).as("coreness"))
              else out
    alive.unpersist(false)
    res
  }
}
