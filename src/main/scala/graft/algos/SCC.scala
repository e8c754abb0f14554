package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Strongly connected components of a DIRECTED graph — the web-link-graph
  * flagship (the "bowtie" decomposition of a crawl graph is exactly this).
  * The reference's own algorithm layer stops at undirected components
  * (`Demo/DO_NOT_BENCHMARK.txt` defers graph algorithms to LAGraph, whose
  * suite includes SCC); this is the Spark-native member of that family.
  *
  * Algorithm: trim + forward-max coloring + backward sweep — the standard
  * distributed SCC used by Pregel-style systems (Orzan's coloring; the
  * FW-BW idea of Fleischer-Hendrickson-Pilkington with the max-id vertex of
  * each color as the implicit pivot):
  *
  *   repeat until no active vertices:
  *     1. TRIM to fixpoint: an active vertex with no in-edge or no out-edge
  *        inside the active subgraph is its own SCC; removing it can expose
  *        more, so peel until stable (capped at `maxTrim` passes/round —
  *        the outer loop catches any tail). This removes the tendrils and
  *        tubes of a web crawl — typically most of the graph — before any
  *        coloring work happens.
  *     2. COLOR: propagate color(v) = max(id of vertices that can reach v)
  *        forward to fixpoint (max.second semiring vxm per round).
  *     3. SWEEP: roots are vertices with color(v)=v; each SCC is the set
  *        backward-reachable from its root WITHOUT leaving the root's color
  *        class (vertices u with color(u)=r that reach r: mutual
  *        reachability with r is exactly color(u)=r ∧ u⇝r). Mark to
  *        fixpoint along reversed edges, assign, deactivate.
  *
  * Every round is equi-key joins + aggregations over the id partitioning
  * (the same shapes as PageRank/CC — cutKeyed leaf states, observed change
  * counts, no driver-side vertex data). Rounds: trimming bounds the work to
  * the graph's 2-core-ish directed core; coloring costs the forward
  * eccentricity of each pivot; the outer loop peels at least one SCC DAG
  * "layer" of pivots per pass (worst case a chain of SCCs — O(#layers)
  * outer rounds, each cheap once trim has eaten the acyclic fringe).
  *
  * Output is EXACT and deterministic: (id, scc) with scc = the minimum
  * vertex id of the component (max-coloring finds the partition; a final
  * per-component min normalizes the label), so any engine — including a
  * transitive-closure SQL oracle — produces the identical table.
  */
object SCC {

  def run(spark: SparkSession, edges: DataFrame, maxOuter: Int = 256,
          numPartitions: Int = 0, maxTrim: Int = 16): DataFrame =
    runCounted(spark, edges, maxOuter, numPartitions, maxTrim)._1

  /** run() that also reports the number of outer (trim+color+sweep) rounds. */
  def runCounted(spark: SparkSession, edges: DataFrame, maxOuter: Int = 256,
                 numPartitions: Int = 0, maxTrim: Int = 16): (DataFrame, Int) =
    Iterate.withoutAQE(spark)(runLoop(spark, edges, maxOuter, numPartitions, maxTrim)) match {
      case (assigned, outer) => (normalized(assigned), outer)
    }

  /** (id, scc) from the cut (id, root) assignment: the component label is
    * the min member id (an exact, engine-independent contract; the pivot id
    * was an artifact of max-coloring).
    */
  private def normalized(assigned: DataFrame): DataFrame = {
    val rep = assigned.groupBy("root").agg(min(col("id")).as("scc"))
    assigned.join(rep, Seq("root")).select(col("id"), col("scc"))
  }

  /** The cut (id, root) assignment of every vertex, and the outer rounds. */
  private def runLoop(spark: SparkSession, edges: DataFrame, maxOuter: Int,
                      numPartitions: Int, maxTrim: Int): (DataFrame, Int) = {
    val parts = Iterate.partitions(spark, numPartitions)

    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var active = Iterate.cutKeyed(
      e0.select(col("src").as("id"))
        .union(e0.select(col("dst").as("id"))).distinct(), parts, "id")
    var nActive = active.count()
    // accumulated (id, root) assignments; root = the pivot/trim id for now,
    // normalized to the component-min label at the end
    var assigned = Iterate.cutKeyed(
      active.filter(lit(false)).select(col("id"), col("id").as("root")),
      parts, "id")

    var outer = 0
    while (nActive > 0 && outer < maxOuter) {
      outer += 1
      // active subgraph (both endpoints still unassigned)
      val ae = e0
        .join(active.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(active.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .repartition(parts, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      ae.count()

      // 1. TRIM to fixpoint — no in- or no out-edge in the shrinking
      // subgraph ⇒ singleton SCC; peel until stable (each pass is two
      // distinct+semi-join degree checks, far cheaper than a color round)
      var core = active
      var trimmed = Iterate.cutKeyed(
        active.filter(lit(false)).select(col("id"), col("id").as("root")),
        parts, "id")
      var tch = 1L
      var tpass = 0
      while (tch > 0 && tpass < maxTrim) {
        tpass += 1
        val curE = ae
          .join(core.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(core.select(col("id").as("dst")), Seq("dst"), "left_semi")
        val both = Iterate.cutKeyed(
          curE.select(col("src").as("id")).distinct()
            .join(curE.select(col("dst").as("id")).distinct(), Seq("id"), "left_semi"),
          parts, "id")
        val newTrim = Iterate.cutKeyed(
          core.join(both, Seq("id"), "left_anti")
            .select(col("id"), col("id").as("root")), parts, "id")
        tch = newTrim.count()
        if (tch > 0) {
          val t2 = Iterate.cutKeyed(trimmed.unionByName(newTrim), parts, "id")
          Iterate.free(trimmed); trimmed = t2
          if (core ne active) Iterate.free(core)
          core = both
        } else {
          Iterate.free(both); Iterate.free(newTrim)
        }
      }

      // 2. COLOR — forward max fixpoint over the post-trim subgraph
      val ce = ae
        .join(core.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(core.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .repartition(parts, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var color = Iterate.cutKeyed(
        core.select(col("id"), col("id").as("c")), parts, "id")
      var changed = 1L
      var inner = 0
      while (changed > 0) {
        inner += 1
        val fwd = ce.join(color.select(col("id").as("src"), col("c").as("sc")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(max(col("sc")).as("nmax"))
        val merged = color.join(fwd, Seq("id"), "left")
          .select(col("id"),
            greatest(col("c"), coalesce(col("nmax"), col("c"))).as("c"),
            (col("nmax") > col("c")).as("chg"))
          .observe(s"scc_c_${outer}_$inner",
            sum(when(col("chg"), 1L).otherwise(0L)).as("changed"))
        val next = Iterate.cutKeyed(merged, parts, "id")
        changed = Iterate.observedLong(merged, s"scc_c_${outer}_$inner")(
          next.filter(col("chg")).count())
        Iterate.free(color)
        color = next
      }

      // 3. SWEEP — backward reach from each root r (color(r)=r), never
      // leaving color class r; reached set IS the SCC of r
      var reached = Iterate.cutKeyed(
        color.filter(col("c") === col("id"))
          .select(col("id"), col("c").as("root")), parts, "id")
      changed = 1L
      inner = 0
      while (changed > 0) {
        inner += 1
        // keep only WITHIN-COLOR contributions before aggregating (an edge
        // into a neighboring color class's reached set must not mark us);
        // then min() is just the dup-monoid — all survivors equal our color
        val bwd = ce
          .join(reached.select(col("id").as("dst"), col("root").as("r")), Seq("dst"))
          .join(color.select(col("id").as("src"), col("c").as("srcc")), Seq("src"))
          .filter(col("r") === col("srcc"))
          .groupBy(col("src").as("id")).agg(min(col("r")).as("r"))
        val grown = color
          .join(bwd, Seq("id"), "left")
          .select(col("id"), col("c"), col("r").as("root"))
          .join(reached.select(col("id"), lit(true).as("already")), Seq("id"), "left")
          .select(col("id"), col("c"), col("root"),
            (col("root").isNotNull && col("already").isNull).as("isNew"))
          .observe(s"scc_b_${outer}_$inner",
            sum(when(col("isNew"), 1L).otherwise(0L)).as("changed"))
        val nextAll = Iterate.cutKeyed(grown, parts, "id")
        changed = Iterate.observedLong(grown, s"scc_b_${outer}_$inner")(
          nextAll.filter(col("isNew")).count())
        val nextReached = Iterate.cutKeyed(
          nextAll.filter(col("isNew"))
            .select(col("id"), col("root"))
            .unionByName(reached), parts, "id")
        Iterate.free(reached)
        reached = nextReached
      }

      val newAssigned = Iterate.cutKeyed(
        assigned.unionByName(trimmed).unionByName(reached), parts, "id")
      val newActive = Iterate.cutKeyed(
        active.join(newAssigned, Seq("id"), "left_anti"), parts, "id")
      Iterate.free(assigned)
      if (core ne active) Iterate.free(core)
      Iterate.free(active); Iterate.free(trimmed)
      Iterate.free(color); Iterate.free(reached)
      ae.unpersist(false); ce.unpersist(false)
      assigned = newAssigned
      active = newActive
      nActive = active.count()
    }
    require(nActive == 0, s"SCC did not converge in $maxOuter outer rounds")

    e0.unpersist(false)
    (assigned, outer)
  }

  /** Condensation of the directed graph: contract every SCC to one vertex
    * (label = min member id, as [[run]] emits) and keep the distinct
    * between-component edges — a DAG by construction (the web-graph
    * "bowtie" skeleton). Adds the longest-path-from-a-source level of every
    * component ("topological level": sources are 0, level(v) = 1 + max over
    * predecessors), computed as a max-plus fixpoint whose round count is the
    * DAG depth. Output: (scc, level) one row per component, plus the DAG
    * edges from [[condenseEdges]].
    */
  def condense(spark: SparkSession, edges: DataFrame,
               numPartitions: Int = 0): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)
    val assigned = assignment(spark, edges, parts)
    val scc = normalized(assigned).persist(StorageLevel.MEMORY_AND_DISK)
    val dag = dagEdges(scc, edges)
      .select(col("scc_src").as("src"), col("scc_dst").as("dst"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Toposort's layering; a DAG by construction, so the bound is slack
    val layered = Toposort.layers(dag, parts, maxIter = 100000)
    // components touched by no inter-component edge are sources at level 0
    val out = scc.select(col("scc")).distinct()
      .join(layered.select(col("id").as("scc"), col("layer").as("level")), Seq("scc"), "left")
      .select(col("scc"), coalesce(col("level"), lit(0L)).as("level"))
    out.cache(); out.count()
    scc.unpersist(false); dag.unpersist(false)
    Iterate.free(assigned); Iterate.free(layered)
    out
  }

  /** The distinct inter-component edges (scc_src, scc_dst), scc = min
    * member id per [[run]]'s contract.
    */
  def condenseEdges(spark: SparkSession, edges: DataFrame,
                    numPartitions: Int = 0): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)
    val assigned = assignment(spark, edges, parts)
    val scc = normalized(assigned).persist(StorageLevel.MEMORY_AND_DISK)
    val out = dagEdges(scc, edges).cache()
    out.count()
    scc.unpersist(false); Iterate.free(assigned)
    out
  }

  /** [[runLoop]]'s assignment with the default round caps. */
  private def assignment(spark: SparkSession, edges: DataFrame, parts: Int): DataFrame =
    Iterate.withoutAQE(spark)(runLoop(spark, edges, 256, parts, 16))._1

  private def dagEdges(scc: DataFrame, edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst")).distinct()
      .join(scc.select(col("id").as("src"), col("scc").as("scc_src")), Seq("src"))
      .join(scc.select(col("id").as("dst"), col("scc").as("scc_dst")), Seq("dst"))
      .select(col("scc_src"), col("scc_dst"))
      .filter(col("scc_src") =!= col("scc_dst")).distinct()
}
