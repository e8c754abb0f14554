package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Iterate

/** k-truss (GraphBLAS/@GrB/ktruss.m): iterate C<C> = C*C (plus-and semiring —
  * per surviving edge, count common neighbors = triangle support), keep edges
  * with support >= k-2 (select '>=', ktruss.m:83-88), fixpoint when the edge
  * count stops changing (ktruss.m:79-90).
  *
  * Spark shape: support = the masked wedge-join of TriangleCount.edgeSupport
  * (the <C> mask = left-semi against the surviving edges); each round
  * filters, then recomputes on the shrunken graph. Returns the canonical
  * (lo,hi) edges of the k-truss.
  */
object KTruss {

  def run(spark: SparkSession, edges: DataFrame, k: Int, maxIter: Int = 100,
          numPartitions: Int = 0, checkpointDir: Option[String] = None,
          checkpointEvery: Int = 10): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    val edgeCount = count(lit(1)).as("n")
    // the loop state IS the surviving edge set, so the snapshot is the
    // canonical (lo,hi) table; resuming simply continues peeling from it
    // (the filter is monotone — rounds already applied are never re-done)
    Iterate.fixpoint(canonical(spark, edges, numPartitions), 0, Nil,
        maxIter, metrics = Seq(edgeCount), initMetrics = Seq(edgeCount),
        checkpoint = Iterate.Snapshots(checkpointDir, checkpointEvery,
          Seq("lo", "hi"), tag = s"k=$k",
          log = row => Seq("edges" -> Iterate.long(row, 0)),
          resume = r => canonical(spark,
            r.select(col("lo").as("src"), col("hi").as("dst")), numPartitions))) {
      (canon, _, _) => peel(canon, k)
    } { (prev, row) =>
      Iterate.long(row, 0) == Iterate.long(prev, 0) || Iterate.long(row, 0) == 0L
    }.state
  }

  /** Fixed-round variant: at most `rounds` support-filter rounds of [[run]]
    * — the SQL-oracle-checkable unrolled form. A round that keeps every edge
    * is a fixpoint, so stopping there gives exactly the edges of all
    * `rounds` rounds.
    */
  def runFixed(spark: SparkSession, edges: DataFrame, k: Int, rounds: Int,
               numPartitions: Int = 0): DataFrame =
    run(spark, edges, k, maxIter = rounds, numPartitions = numPartitions)

  /** Simple undirected canonical edges (lo < hi), laid out by lo. */
  private def canonical(spark: SparkSession, edges: DataFrame,
                        numPartitions: Int): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("lo"), greatest(col("src"), col("dst")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
      .repartition(Iterate.partitions(spark, numPartitions), col("lo"))

  /** One support-filter round: the edges with support >= k-2. */
  private def peel(canon: DataFrame, k: Int): DataFrame =
    canon.join(TriangleCount.edgeSupport(canon).filter(col("support") >= k - 2),
      Seq("lo", "hi"), "left_semi")

  /** [[peel]] for [[trussness]]'s own loop: the cut surviving edges and their
    * count, observed during the cut pass (no extra job). Frees the superseded
    * state.
    */
  private def round(canon: DataFrame, k: Int): (DataFrame, Long) = {
    val name = s"ktruss_${System.identityHashCode(canon)}"
    val keptPre = peel(canon, k).observe(name, count(lit(1)).as("n"))
    val kept = Iterate.cut(keptPre)
    val n = Iterate.observedLong(keptPre, name)(kept.count())
    Iterate.free(canon)
    (kept, n)
  }

  /** Full truss decomposition: (src, dst, trussness) per canonical edge,
    * where trussness is the largest k for which the edge survives in the
    * k-truss (edges in no triangle get the conventional 2). Same level-peel
    * shape as [[KCore.coreness]] — O(max trussness) outer levels, each
    * level a [[run]]-style support fixpoint over the SHRINKING survivor
    * set, so total work tracks the peel, not levels × input.
    */
  def trussness(spark: SparkSession, edges: DataFrame, maxK: Int = 1000,
                numPartitions: Int = 0): DataFrame = {
    var canon = Iterate.cut(canonical(spark, edges, numPartitions))
    var nvals = canon.count()
    // level-start snapshot, persisted + materialized BEFORE round() frees
    // the canon leaf it projects from (same contract as KCore.coreness)
    var alive = canon.select(col("lo"), col("hi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    alive.count()
    var out: DataFrame = null
    var k = 3
    while (nvals > 0 && k <= maxK) {
      var stable = false
      while (!stable && nvals > 0) {
        val (kept, newN) = round(canon, k)
        stable = newN == nvals
        canon = kept
        nvals = newN
      }
      val surv = canon.select(col("lo"), col("hi"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      surv.count()
      val peeled = alive.join(surv, Seq("lo", "hi"), "left_anti")
        .select(col("lo"), col("hi"), lit(k - 1).cast("long").as("trussness"))
      out = if (out == null) peeled else out.unionByName(peeled)
      out = Iterate.cut(out)
      alive.unpersist(false)
      alive = surv
      k += 1
    }
    // maxK reached with survivors: their trussness is >= maxK — cap there
    val res =
      if (nvals > 0) {
        val capped = alive.select(col("lo"), col("hi"),
          lit(maxK).cast("long").as("trussness"))
        if (out == null) capped else out.unionByName(capped)
      } else if (out == null)
        alive.select(col("lo"), col("hi"), lit(2L).as("trussness"))
      else out
    // materialize before dropping alive's blocks (res may project from them)
    val cut = Iterate.cut(
      res.select(col("lo").as("src"), col("hi").as("dst"), col("trussness")))
    alive.unpersist(false)
    cut
  }
}
