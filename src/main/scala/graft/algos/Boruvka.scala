package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Borůvka minimum spanning forest — the distributed-native MST (every
  * component picks its minimum outgoing edge simultaneously, components at
  * least HALVE per round ⇒ O(log n) rounds regardless of diameter; Prim and
  * Kruskal are inherently sequential and never survive a cluster). Each
  * round is GraphBLAS-shaped: the per-component min edge is a GrB_vxm over
  * the (min, second) semiring and the contraction is the same
  * hook+shortcut pattern as [[ConnectedComponents.runFastSV]]
  * (`Source/GB_mxm.c` for the product; LAGraph msf.c is the reference-layer
  * analogue).
  *
  * Determinism: edges are ordered by the TOTAL lexicographic key
  * (w, src, dst), so the chosen forest is the unique MSF of that strict
  * order — identical to what Kruskal under the same order produces (greedy
  * matroid optimality), which is exactly how the differential test checks
  * it.
  *
  * Scale shape per round: two per-edge hash joins against the (id, comp)
  * state (relabel endpoints), one partially-aggregated min-struct groupBy
  * per component, a component-COUNT-sized hook table, then pointer-jumping
  * on the component table only (vertex-count-sized, never edge-sized);
  * state and edges are cut/cached per round with bounded lineage. Surviving
  * (still-mergeable) edges are re-cut each round, so the edge table SHRINKS
  * as components merge — the round-r join touches only edges still crossing
  * components.
  */
object Boruvka {

  /** MSF edges (src, dst, w) of the undirected weighted graph. Parallel
    * edges collapse to their min weight; self-loops drop.
    */
  def msf(spark: SparkSession, edges: DataFrame, numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(loop(spark, edges, numPartitions))

  private def loop(spark: SparkSession, edges: DataFrame,
                   numPartitions: Int): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    // canonical weighted edges: a<b, min weight per pair
    val canon0 = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min(col("w")).as("w"))
    var live = Iterate.cutKeyed(canon0, parts, "a")

    val verts = live.select(col("a").as("id"))
      .unionByName(live.select(col("b").as("id"))).distinct()
    var comp = Iterate.cutKeyed(verts.select(col("id"), col("id").as("comp")),
      parts, "id")

    var forest: DataFrame = null
    var done = false
    var round = 0
    while (!done && round < 64) {
      round += 1
      // relabel surviving edges by component and drop intra-component ones
      val ce0 = live
        .join(comp.select(col("id").as("a"), col("comp").as("ca")), Seq("a"))
        .join(comp.select(col("id").as("b"), col("comp").as("cb")), Seq("b"))
        .filter(col("ca") =!= col("cb"))
        .observe(s"boruvka_live_$round", count(lit(1)).as("n"))
      val ce = Iterate.cutKeyed(ce0, parts, "a")
      val liveCount = Iterate.observedLong(ce0, s"boruvka_live_$round")(ce.count())
      if (liveCount == 0L) done = true
      else {
        // per-component min outgoing edge under the strict (w, a, b) order
        val half = ce.select(col("ca").as("c"), col("cb").as("oc"),
            col("w"), col("a"), col("b"))
          .unionByName(ce.select(col("cb").as("c"), col("ca").as("oc"),
            col("w"), col("a"), col("b")))
        val chosen = half.groupBy("c")
          .agg(min(struct(col("w"), col("a"), col("b"), col("oc"))).as("m"))
          .select(col("c"), col("m.w").as("w"), col("m.a").as("a"),
            col("m.b").as("b"), col("m.oc").as("oc"))

        // the same edge may be chosen from both sides — forest edges dedup
        val picked = Iterate.cut(chosen)
        val newEdges = picked.select(col("a"), col("b"), col("w")).distinct()
        val f0 = if (forest == null) newEdges
                 else forest.unionByName(newEdges)
        val nextForest = Iterate.cut(f0)
        if (forest != null) Iterate.free(forest)
        forest = nextForest

        // hook: component c points at its chosen neighbor oc. Mutual pairs
        // (2-cycles) root at the smaller id; then pointer-jump to the root
        // (component-table-sized, O(log depth) self-joins, each cut)
        val hooks = picked.select(col("c"), col("oc"))
        var parent = Iterate.cutKeyed(
          hooks.alias("h")
            .join(hooks.select(col("c").as("oc"), col("oc").as("back")).alias("b2"),
              Seq("oc"), "left")
            .select(col("c"),
              when(col("back") === col("c"), least(col("c"), col("oc")))
                .otherwise(col("oc")).as("p")),
          parts, "c")
        var jumping = true
        var hop = 0
        while (jumping && hop < 64) {
          hop += 1
          val j0 = parent.alias("x")
            .join(parent.select(col("c").as("p"), col("p").as("pp")).alias("y"),
              Seq("p"), "left")
            .select(col("c"), coalesce(col("pp"), col("p")).as("p"),
              (col("pp").isNotNull && col("pp") =!= col("p")).cast("long").as("moved"))
            .observe(s"boruvka_jump_${round}_$hop", sum(col("moved")).as("n"))
          // cut the OBSERVED frame itself (the metric only populates when its
          // own QueryExecution runs — see Iterate.observedLong's contract);
          // the bookkeeping column rides along in the leaf
          val j = Iterate.cutKeyed(j0, parts, "c")
          val moved = Iterate.observedLong(j0, s"boruvka_jump_${round}_$hop")(
            j.agg(coalesce(sum(col("moved")), lit(0L))).head.getLong(0))
          Iterate.free(parent)
          parent = j
          if (moved == 0L) jumping = false
        }

        // relabel vertex components (components not hooked keep their label)
        val nextComp = Iterate.cutKeyed(
          comp.join(parent.select(col("c").as("cj"), col("p")),
              col("comp") === col("cj"), "left")
            .select(col("id"), coalesce(col("p"), col("comp")).as("comp")),
          parts, "id")
        Iterate.free(comp)
        comp = nextComp
        Iterate.free(live)
        live = ce.select(col("a"), col("b"), col("w"))
      }
    }
    if (forest == null)
      verts.limit(0).select(col("id").as("src"), col("id").as("dst"),
        col("id").cast("double").as("w"))
    else forest.select(col("a").as("src"), col("b").as("dst"), col("w"))
  }
}
