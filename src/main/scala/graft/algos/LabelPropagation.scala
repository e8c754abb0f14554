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
  * Each round = one join (gather neighbor labels) + one two-level hash-agg
  * (count per (vertex,label), then max_by with min-label tie-break). The
  * count-then-argmax is the semiring view: plus.pair to count, max.second
  * with tie-break to pick — all shuffle-partial-aggregated by Spark.
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
      checkpoint = snapshots) { (labels, _, _) =>
      // histogram of neighbor labels per vertex...
      val hist = und
        .join(labels.select(col("id").as("src"), col("label").as("l")), Seq("src"))
        .groupBy(col("dst"), col("l")).agg(count(lit(1)).as("cnt"))
      // ...then deterministic argmax: max count, then min label. max_by with a
      // composite orderable key: struct(cnt, -l) compares lexicographically.
      val best = hist.groupBy(col("dst").as("id"))
        .agg(max(struct(col("cnt"), negate(col("l")).as("nl"))).as("m"))
        .select(col("id"), negate(col("m.nl")).as("nlabel"))
      labels.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("nlabel"), col("label")).as("label"),
          (coalesce(col("nlabel"), col("label")) =!= col("label")).as("chg"))
    } { (_, row) => Iterate.long(row, 0) == 0 }
    und.unpersist(false)
    fp.state.select(col("id"), col("label"))
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
