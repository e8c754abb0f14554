package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Connected components by min-label propagation to fixpoint (north rule:
  * "min-plus label propagation, exact assignments"; semiring view: iterate
  * w = min.second(A, w) ⊕ w until unchanged — SURVEY.md §2.10).
  *
  * Deterministic and exact: labels are vertex ids, min is order-insensitive,
  * so the fixpoint is unique. Works on the symmetrized structure (components
  * are an undirected notion, matching the reference's 2blocks fixture usage).
  *
  * Scale notes: plain min-propagation needs O(diameter) rounds. Each round is
  * one shuffle join + one hash-agg, both on the same `id` partitioning; the
  * label vector shrinks nothing but converges fast on social-like graphs
  * (small diameter). Lineage cut every 10 rounds.
  *
  * For HIGH-diameter graphs (long chains — a real hazard in web link graphs)
  * set `fastsv = true`: a Shiloach-Vishkin / FastSV-style round (hook each
  * label-tree root to the min neighbor label seen under it, then shortcut
  * comp := comp(comp)) converges in O(log n) rounds instead of O(diameter)
  * — the LAGraph FastSV design point (reference @GrB layer defers CC to
  * LAGraph; the hook+shortcut recurrence is Shiloach-Vishkin 1982). Same
  * exact (id, comp = min component id) output, ~4 exchanges/round instead
  * of 2, so the default stays min-propagation for small-diameter graphs.
  */
object ConnectedComponents {

  /** @param checkpointDir when set, label state is snapshotted there every
    *                       `checkpointEvery` rounds (+ at the fixpoint) and
    *                       the run resumes from the newest complete snapshot
    *                       (graft.core.Checkpoint — the north rule's
    *                       resumable iterations).
    * @param fastsv        hook+shortcut rounds (O(log n), high-diameter safe)
    *                      instead of plain min-propagation (O(diameter)).
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 200,
          numPartitions: Int = 0, skewSalts: Int = 8,
          checkpointDir: Option[String] = None, checkpointEvery: Int = 10,
          fastsv: Boolean = false): DataFrame =
    runCounted(spark, edges, maxIter, numPartitions, skewSalts,
      checkpointDir, checkpointEvery, fastsv)._1

  /** Incremental components for a crawl delta: given the labeling of an
    * existing edge set, absorb `delta` WITHOUT re-solving the old graph —
    * contract every old component to its (min-member) label, solve CC only
    * on the contracted delta graph (delta-sized, typically ≪ the corpus),
    * and relabel. Exactness: old labels ARE min members of their
    * sub-components, so the min label of a merged cluster of old components
    * is the min member of the merged component — the output is IDENTICAL to
    * a batch run over old ∪ delta (that equality is this operator's oracle).
    * Vertices seen only in the delta enter as their own singleton labels.
    *
    * Spark shape: two label joins to contract (co-keyed on the vertex id),
    * one CC run sized by |delta| + #touched-components, one label join
    * back. The full historical edge set is never read.
    */
  def incremental(spark: SparkSession, oldComp: DataFrame, delta: DataFrame,
                  numPartitions: Int = 0, fastsv: Boolean = false): DataFrame = {
    val base = oldComp.select(col("id"), col("comp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // delta-only vertices become their own labels
    val dverts = delta.select(col("src").as("id"))
      .unionByName(delta.select(col("dst").as("id"))).distinct()
    val compBase = dverts.join(base, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      .unionByName(base.join(dverts, Seq("id"), "left_anti"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    compBase.count()

    val contracted = delta
      .join(compBase.select(col("id").as("src"), col("comp").as("csrc")), Seq("src"))
      .join(compBase.select(col("id").as("dst"), col("comp").as("cdst")), Seq("dst"))
      .select(col("csrc").as("src"), col("cdst").as("dst"))
      .filter(col("src") =!= col("dst"))
    val merged =
      if (contracted.isEmpty) compBase.sparkSession.emptyDataFrame
        .select(lit(0L).as("comp"), lit(0L).as("newc")).limit(0)
      else run(spark, contracted, numPartitions = numPartitions, fastsv = fastsv)
        .select(col("id").as("comp"), col("comp").as("newc"))

    val out = compBase.join(merged, Seq("comp"), "left")
      .select(col("id"), coalesce(col("newc"), col("comp")).as("comp"))
    out.cache(); out.count()
    base.unpersist(false); compBase.unpersist(false)
    out
  }

  /** run() that also reports the number of rounds taken to converge —
    * the observable behind the O(log n)-vs-O(diameter) claim.
    */
  def runCounted(spark: SparkSession, edges: DataFrame, maxIter: Int = 200,
          numPartitions: Int = 0, skewSalts: Int = 8,
          checkpointDir: Option[String] = None, checkpointEvery: Int = 10,
          fastsv: Boolean = false): (DataFrame, Int) =
    // fixed layout + known partition counts: AQE only adds stage barriers
    Iterate.withoutAQE(spark)(runLoop(spark, edges, maxIter, numPartitions,
      skewSalts, checkpointDir, checkpointEvery, fastsv))

  private def runLoop(spark: SparkSession, edges: DataFrame, maxIter: Int,
          numPartitions: Int, skewSalts: Int,
          checkpointDir: Option[String], checkpointEvery: Int,
          fastsv: Boolean): (DataFrame, Int) = {
    val snapshots = Iterate.Snapshots(checkpointDir, checkpointEvery,
      Seq("id", "comp"), log = row => Seq("changed" -> Iterate.long(row, 0)))
    val parts = Iterate.partitions(spark, numPartitions)

    // symmetrize; structure only. repartition(src) BEFORE the distinct:
    // hash(src) satisfies the dedup agg's ClusteredDistribution(src,dst)
    // (subset rule, same fusion as PageRank's adjacency setup), so
    // symmetrize+dedup+layout is ONE data-sized exchange instead of two
    val undPlain = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("src"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // hub skew in the gather join (graft.core.Skew hot-key isolation): cold
    // edges stay co-partitioned with the labels; hot-src edges are spread by
    // dst and join a broadcast of the few hot label rows — identical result
    // (min is order-insensitive), no straggler task
    val hot = if (skewSalts > 0) graft.core.Skew.hotKeys(undPlain, "src", parts)
              else Seq.empty[Any]
    val (und, undHot) = if (hot.isEmpty) (undPlain, None) else {
      // a filter keeps undPlain's hash(src) layout: no second exchange
      val cold = undPlain.filter(!col("src").isin(hot: _*))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val hotE = undPlain.filter(col("src").isin(hot: _*))
        .repartition(parts, col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
      cold.count(); hotE.count()
      undPlain.unpersist(false)
      (cold, Some(hotE))
    }

    val vertices = (undHot match {
      case None => und.select(col("src").as("id"))
      case Some(h) => und.select(col("src").as("id")).union(h.select(col("src").as("id")))
    }).distinct()
    val fp = Iterate.fixpoint(vertices.select(col("id"), col("id").as("comp")),
      parts, Seq("id"), maxIter,
      metrics = Seq(sum(when(col("chg"), 1L).otherwise(0L)).as("changed")),
      checkpoint = snapshots) { (labels, _, _) =>
      // neighbor-min gather: min.second semiring vxm over the adjacency
      val labT = labels.select(col("id").as("src"), col("comp").as("c"))
      val gathered = undHot match {
        case None => Iterate.gather(und, labT)
        case Some(h) => Iterate.gather(und, labT).unionByName(
          h.join(broadcast(labT.filter(col("src").isin(hot: _*))), Seq("src")))
      }
      val neighborMin = gathered
        .groupBy(col("dst").as("id")).agg(min(col("c")).as("nmin"))

      if (!fastsv) {
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
            (col("nmin") < col("comp")).as("chg"))
      } else {
        // FastSV round. Invariant: every comp value is the id of a vertex in
        // the same component (initially itself; hook/shortcut only move along
        // component-internal labels), so the fixpoint is the exact min id.
        // (1) hook: each label-tree root r takes the min neighbor-label seen
        //     anywhere under it — min over {u : comp(u)=r} of nmin(u)
        val hooks = labels.join(neighborMin, Seq("id"))
          .groupBy(col("comp").as("id")).agg(min(col("nmin")).as("hmin"))
        // (2) per-vertex propagation folded in (comp := min(comp, own nmin))
        val l1 = labels
          .join(neighborMin, Seq("id"), "left")
          .join(hooks, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nmin"), col("comp")),
              coalesce(col("hmin"), col("comp"))).as("c1"),
            col("comp").as("comp0"))
        // (3) shortcut: comp := comp(comp) — pointer-chain halving; this is
        //     what turns a length-d chain into O(log d) rounds
        val par = l1.select(col("id").as("_p"), col("c1").as("_pc"))
        l1.join(par, col("c1") === col("_p"), "left")
          .select(col("id"), coalesce(col("_pc"), col("c1")).as("comp"),
            col("comp0"))
          .withColumn("chg", col("comp") < col("comp0"))
          .select(col("id"), col("comp"), col("chg"))
      }
    } { (_, row) => Iterate.long(row, 0) == 0 }
    und.unpersist(false); undHot.foreach(_.unpersist(false))
    (fp.state.select(col("id"), col("comp")), fp.trace.size)
  }
}
