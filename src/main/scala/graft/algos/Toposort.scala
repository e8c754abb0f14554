package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Topological layering of a DAG — `layer(v)` = length of the LONGEST path
  * from any source (in-degree-0 vertex) to v, plus the total topological
  * order `ord` = rank by (layer, id). This is the level-synchronous "list
  * scheduling" view of topological sort: every vertex of layer k depends
  * only on layers < k, so layer-by-layer execution is a valid parallel
  * schedule and `ord` is a concrete deterministic linearization. The
  * reference frames the same computation as repeated masked mxv over the
  * (max,+) semiring (`Source/GB_mxm.c` products with the GrB_MAX_PLUS
  * monoid); here it is the (max, +1) [[Relax]]ation seeded with every
  * vertex at layer 0, each round one frontier join + max-aggregate.
  *
  * Delta-frontier relaxation: only vertices whose layer IMPROVED feed the
  * next round, so late rounds touch a shrinking edge subset and the round
  * count equals the DAG depth L (not |V|). The 100 TB design point is the
  * CONDENSED dependency DAG ([[SCC.condense]] / the repo quotient graph) —
  * same scoping as [[TransitiveReduction]] — where depth is tens, not
  * millions; the adjacency is hash-partitioned by src once and every round
  * reuses that layout.
  *
  * Caller must pass a DAG (e.g. edges filtered src < dst, or a condensation
  * output); a cycle would have no finite longest path. A `maxIter` guard
  * raises rather than spinning if handed one.
  */
object Toposort {

  /** (id, layer, ord) for every vertex of the DAG. */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 10000,
          numPartitions: Int = 0): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    val adj = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val layer = layers(adj, parts, maxIter).select(col("id"), col("layer"))
    adj.unpersist(false)
    // total order: rank by (layer, id). A single global sort — fine for the
    // condensed-DAG scope; at raw-graph scale emit `layer` alone and let the
    // scheduler consume layers directly.
    layer.withColumn("ord",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("layer"), col("id"))).cast("long"))
  }

  /** The cut (id, layer, chg) state over the src-partitioned DAG adjacency
    * `adj` (src, dst): every vertex starts at layer 0 and takes 1 + the max
    * layer of its predecessors. Raises when `maxIter` rounds do not reach
    * the fixpoint. A caller that materializes what it derives from the
    * state frees it after ([[Iterate.free]]).
    */
  private[algos] def layers(adj: DataFrame, parts: Int, maxIter: Int): DataFrame = {
    val verts = adj.select(col("src").as("id"))
      .unionByName(adj.select(col("dst").as("id"))).distinct()
    val fp = Relax(adj, verts.select(col("id"), lit(0L).as("layer")), parts, maxIter,
      maximize = true)(col("layer") + 1L)
    require(Relax.settled(fp), s"Toposort: no fixpoint after $maxIter rounds — cycle in input?")
    fp.state
  }
}
