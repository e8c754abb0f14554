package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Bow-tie decomposition of a directed crawl graph (Broder et al., "Graph
  * structure in the Web", WWW 2000) — the canonical link-graph structure
  * report the reference's algorithm family feeds into (its SCC building
  * block is [[SCC]]; `Demo/DO_NOT_BENCHMARK.txt` defers algorithm suites to
  * LAGraph, whose scc is this decomposition's core step).
  *
  * Every vertex gets exactly one class:
  *  - `CORE`    — the largest SCC (ties broken by smallest component label)
  *  - `IN`      — reaches CORE but is not in it
  *  - `OUT`     — reachable from CORE but not in it
  *  - `TUBE`    — on an IN→OUT path that avoids CORE (reachable from IN and
  *                reaches OUT, in the CORE's weak component, not IN/OUT/CORE)
  *  - `TENDRIL` — everything else weakly connected to CORE (hangs off IN or
  *                OUT without providing a CORE bypass)
  *  - `DISC`    — not weakly connected to CORE at all
  *
  * Note fwd(CORE) ∩ bwd(CORE) = CORE exactly (mutual reachability with the
  * core SCC is membership), so IN/OUT are disjoint by construction.
  *
  * Spark shape: one SCC run, then five multi-source reachability fixpoints
  * (forward/backward from CORE, undirected from CORE, forward from IN,
  * backward from OUT). Each is the (min, +0) [[Relax]]ation from a seed
  * set: one co-partitioned frontier join + dst aggregate and one keyed cut
  * per round, so plans stay constant-size. Rounds are
  * bounded by the relevant eccentricity; at web scale each round is a
  * co-partitioned equi-join, never a cartesian. The only driver-side value
  * is the single (label, count) row picking the giant SCC.
  */
object Bowtie {

  def run(spark: SparkSession, edges: DataFrame,
          numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(runImpl(spark, edges, numPartitions))

  private def runImpl(spark: SparkSession, edges: DataFrame,
                      numPartitions: Int): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    e0.count()
    val rev = e0.select(col("dst").as("src"), col("src").as("dst"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val und = e0.unionByName(rev)

    val scc = SCC.run(spark, e0, numPartitions = parts)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // giant SCC label: one (label, size) row to the driver — a scalar, like
    // the convergence stats; ties go to the smallest label for determinism
    val coreRows = scc.groupBy("scc").agg(count(lit(1)).as("sz"))
      .orderBy(col("sz").desc, col("scc").asc).limit(1).collect()
    require(coreRows.nonEmpty,
      "Bowtie needs a non-empty graph (no vertices after self-loop removal)")
    val coreLabel = coreRows(0).getLong(0)
    val core = scc.filter(col("scc") === coreLabel).select(col("id"))

    val fwdCore = reach(e0, core, parts, "bt_fwd")    // CORE ⇝ v (incl. CORE)
    val bwdCore = reach(rev, core, parts, "bt_bwd")   // v ⇝ CORE (incl. CORE)
    val inSet = bwdCore.select(col("id")).join(core, Seq("id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outSet = fwdCore.select(col("id")).join(core, Seq("id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val weak = reach(und, core, parts, "bt_weak")     // CORE's weak component
    val fromIn = reach(e0, inSet, parts, "bt_fin")    // IN ⇝ v (incl. IN)
    val toOut = reach(rev, outSet, parts, "bt_tout")  // v ⇝ OUT (incl. OUT)

    val verts = scc.select(col("id"))
    val out = verts
      .join(core.select(col("id"), lit(true).as("isCore")), Seq("id"), "left")
      .join(inSet.select(col("id"), lit(true).as("isIn")), Seq("id"), "left")
      .join(outSet.select(col("id"), lit(true).as("isOut")), Seq("id"), "left")
      .join(weak.select(col("id"), lit(true).as("isWeak")), Seq("id"), "left")
      .join(fromIn.select(col("id"), lit(true).as("fIn")), Seq("id"), "left")
      .join(toOut.select(col("id"), lit(true).as("tOut")), Seq("id"), "left")
      .select(col("id"),
        when(col("isCore"), "CORE")
          .when(col("isIn"), "IN")
          .when(col("isOut"), "OUT")
          .when(col("isWeak") && col("fIn") && col("tOut"), "TUBE")
          .when(col("isWeak"), "TENDRIL")
          .otherwise("DISC").as("cls"))
    out.cache(); out.count()
    Seq(e0, rev, scc, inSet, outSet).foreach(_.unpersist(false))
    Seq(fwdCore, bwdCore, weak, fromIn, toOut).foreach(Iterate.free)
    out
  }

  /** Multi-source reachability closure: all vertices reachable from
    * `sources` along `edges` (sources included), as (id, …) — the cut
    * relaxation state, which the caller must Iterate.free. Rounds = max
    * distance from the source set.
    */
  private[algos] def reach(edges: DataFrame, sources: DataFrame, parts: Int,
                           tag: String): DataFrame = {
    val fp = Relax(edges, sources.select(col("id"), lit(0).as("hop")), parts,
      maxIter = 100000)(col("hop"))
    require(Relax.settled(fp), s"$tag: reachability did not close")
    fp.state
  }
}
