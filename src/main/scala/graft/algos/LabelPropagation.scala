package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Label-propagation community detection (north rule): synchronous rounds;
  * each vertex adopts the most frequent label among its neighbors, ties
  * broken by the SMALLEST label so the whole run is deterministic and exactly
  * reproducible (SURVEY.md §2.10 "deterministic min tie-break").
  *
  * Each round ([[round]]) = one co-partitioned gather of neighbor labels
  * ([[Iterate.gather]]), ONE exchange laying the gathered (dst, label) rows
  * out by dst, and in the stage that reads them the two stacked hash
  * aggregates: count per (dst, label), then the per-dst argmax — max count,
  * ties to the smallest label. The count-then-argmax is the semiring view:
  * plus.pair to count, max.second with tie-break to pick. Both aggregates
  * are Spark's spillable hash aggregates, so a hub's histogram never has to
  * fit in one map (as `mode()`'s per-group map would).
  * Synchronous LPA can 2-cycle on bipartite-ish structures, so the loop also
  * stops after `maxIter` (reported fixpoint-or-maxit, like pagerank.m's
  * convergence warning).
  */
object LabelPropagation {

  /** @param checkpointDir snapshot/resume of the label state every
    *                       `checkpointEvery` rounds (graft.core.Checkpoint).
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 20,
          numPartitions: Int = 0,
          checkpointDir: Option[String] = None, checkpointEvery: Int = 10): DataFrame =
    // fixed layout + known partition counts: AQE only adds stage barriers
    Iterate.withoutAQE(spark)(runLoop(spark, edges, maxIter, numPartitions,
      checkpointDir, checkpointEvery))

  private def runLoop(spark: SparkSession, edges: DataFrame, maxIter: Int,
          numPartitions: Int,
          checkpointDir: Option[String], checkpointEvery: Int): DataFrame = {
    val snapshots = Iterate.Snapshots(checkpointDir, checkpointEvery,
      Seq("id", "label"), log = row => Seq("changed" -> Iterate.long(row, 0)))
    val parts = Iterate.partitions(spark, numPartitions)

    // repartition(src) FIRST: hash(src) satisfies the distinct agg's
    // ClusteredDistribution(src,dst) (subset rule), so symmetrize+dedup is
    // ONE exchange, not two — and the layout is keyed on the PER-ITERATION
    // JOIN KEY (src), so every round's gather join against the hash(id)
    // label state is co-partitioned: r5's plan re-shuffled the whole edge
    // table by src EVERY round because und was laid out by dst (the dst
    // grouping never reused that layout anyway — the gather join's output
    // partitioning replaced it). One data-sized exchange per round removed
    // (guide §2.4), plus the vertex-universe distinct below reuses hash(src)
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("src"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    val vertices = und.select(col("src").as("id")).distinct()
    val fp = Iterate.fixpoint(vertices.select(col("id"), col("id").as("label")),
      parts, Seq("id"), maxIter,
      metrics = Seq(sum(when(col("chg"), 1L).otherwise(0L)).as("changed")),
      checkpoint = snapshots)((labels, _, _) => round(und, labels, parts)) {
      (_, row) => Iterate.long(row, 0) == 0 }
    und.unpersist(false)
    fp.state.select(col("id"), col("label"))
  }

  /** One synchronous round over the symmetrized, hash(src)-partitioned
    * adjacency `und` and the cut label state (id, label): the next
    * (id, label, chg). Every (dst, label) pair lands in the partition of its
    * dst, and hash(dst) satisfies both the (dst, label) grouping and the dst
    * grouping (subset rule, as in the setup's repartition→distinct), so the
    * round has one exchange; the result stays hash(id) for the keyed cut.
    * The tie-break keys on bitwise_not(label), which reverses the order of
    * every integer without the overflow of negating the minimum value.
    */
  private[algos] def round(und: DataFrame, labels: DataFrame, parts: Int): DataFrame = {
    val gathered = Iterate.gather(und, labels.select(col("id").as("src"), col("label").as("l")))
      .select(col("dst").as("id"), col("l"))
      .repartition(parts, col("id"))
    val best = gathered.groupBy(col("id"), col("l")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("id"))
      .agg(max(struct(col("cnt"), bitwise_not(col("l")).as("nl"))).as("m"))
      .select(col("id"), bitwise_not(col("m.nl")).as("nlabel"))
    labels.join(best, Seq("id"), "left")
      .select(col("id"), coalesce(col("nlabel"), col("label")).as("label"),
        (coalesce(col("nlabel"), col("label")) =!= col("label")).as("chg"))
  }

  /** Fixed-iteration-count variant: at most `k` synchronous rounds of
    * [[run]] — the SQL-oracle-checkable unrolled form (same shape as
    * PageRank.runFixed). A round that changes no label is a fixpoint, so
    * stopping there gives exactly the labels of all `k` rounds.
    */
  def runFixed(spark: SparkSession, edges: DataFrame, k: Int,
               numPartitions: Int = 0): DataFrame =
    run(spark, edges, maxIter = k, numPartitions = numPartitions)
}
