package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Multi-source BFS with a packed 64-bit frontier — the classic batched-BFS
  * formulation of GraphBLAS (one BFS per BIT of the value, the LOR.LAND /
  * bitwise-OR semiring; the reference's own BFS is the 1-source special case
  * of this, `@GrB/bfs.m`). Up to 64 sources traverse TOGETHER in one pass:
  * the frontier is a single `(id, mask)` table, expansion is one equi-join +
  * one `bit_or` aggregation per level — so 64 traversals cost one BFS's
  * shuffles, not 64. More than 64 sources run in sequential waves of 64 over
  * the same cached adjacency.
  *
  * This is the standard scale shape for landmark/centrality workloads: at
  * 100 TB you pick k sample sources (Eppstein-Wang style estimators) and pay
  * ceil(k/64) waves of diameter-many co-partitioned rounds; each round's
  * shuffle carries 16 bytes/vertex regardless of k within the wave.
  *
  * Output is EXACT: (id, src, dist) for every (source, reachable vertex)
  * pair, dist = unweighted hop count, including (s, s, 0) rows.
  */
object MSBFS {

  /** BFS from every id in `sources` along the DIRECTED edge list. */
  def run(spark: SparkSession, edges: DataFrame, sources: Seq[Long],
          maxIter: Int = 10000, numPartitions: Int = 0): DataFrame = {
    require(sources.nonEmpty, "msbfs needs at least one source")
    require(sources.distinct.size == sources.size, "duplicate sources")
    val parts = Iterate.partitions(spark, numPartitions)

    val adj = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val waves = sources.grouped(64).zipWithIndex.map { case (batch, w) =>
      Iterate.withoutAQE(spark)(wave(spark, adj, batch, w, maxIter, parts))
    }.toSeq
    val out = waves.reduce(_ unionByName _)
    adj.unpersist(false)
    out
  }

  /** DataFrame-source variant: the sources arrive as a 1-column `id` frame
    * and are NEVER collected to the driver — wave membership (wave w, bit
    * idx) is derived distributively from a dense rank over the source set
    * ([[graft.core.Ranking.denseRank]]: range partition + zipWithIndex, no
    * single-task window), and the driver holds only the wave COUNT. This is
    * the all-vertex-centrality entry point: `runFrom(spark, und,
    * vertices)` keeps driver state O(1) where `run(…, verts.collect…)`
    * held O(n) ids before the first job.
    */
  def runFrom(spark: SparkSession, edges: DataFrame, sources: DataFrame,
              maxIter: Int = 10000, numPartitions: Int = 0): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    val adj = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ranked = graft.core.Ranking
      .denseRank(sources.select(col("id")).distinct(), "rk", "id")
      .select(col("id"), (col("rk") / 64).cast("long").as("wv"),
        pmod(col("rk"), lit(64L)).cast("int").as("idx"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = ranked.count() // a COUNT crosses to the driver, never the ids
    require(n > 0, "msbfs needs at least one source")
    val nWaves = ((n + 63) / 64).toInt

    val waves = (0 until nWaves).map { w =>
      val ws = ranked.filter(col("wv") === w.toLong)
      val seed = ws.select(col("id"),
        expr("shiftleft(CAST(1 AS BIGINT), idx)").as("mask"))
      val srcByIdx = ws.select(col("idx"), col("id").as("src"))
      Iterate.withoutAQE(spark)(
        waveFromSeed(spark, adj, seed, srcByIdx, w, maxIter, parts))
    }
    val out = waves.reduce(_ unionByName _)
    adj.unpersist(false); ranked.unpersist(false)
    out
  }

  /** One ≤64-source wave: (id, src, dist) rows. `adj` must be persisted. */
  private def wave(spark: SparkSession, adj: DataFrame, batch: Seq[Long],
                   w: Int, maxIter: Int, parts: Int): DataFrame = {
    import spark.implicits._
    // bit i of the mask = "source batch(i) has reached this vertex"
    val srcByIdx = batch.zipWithIndex.map { case (s, i) => (i, s) }.toDF("idx", "src")
    val seed = batch.zipWithIndex
      .groupBy(_._1).view.mapValues(_.map(p => 1L << p._2).reduce(_ | _))
      .toSeq.map { case (id, m) => (id, m) }.toDF("id", "mask")
    waveFromSeed(spark, adj, seed, srcByIdx, w, maxIter, parts)
  }

  /** Wave body over an arbitrary (id, mask) seed + (idx, src) decode table
    * (≤64 rows, broadcast). `adj` must be persisted.
    */
  private def waveFromSeed(spark: SparkSession, adj: DataFrame,
                           seed: DataFrame, srcByIdx: DataFrame,
                           w: Int, maxIter: Int, parts: Int): DataFrame = {

    var visited = Iterate.cutKeyed(seed, parts, "id")
    var frontier = visited
    // accumulated (id, idx, dist); the seed rows are distance 0
    var results = Iterate.cutKeyed(
      seed.select(col("id"), explode(bitIdxs("mask")).as("idx"),
        lit(0L).as("dist")), parts, "id")
    var level = 0L
    var frontierBits = 1L

    while (frontierBits > 0 && level < maxIter) {
      level += 1
      // q = q * A (bit-OR semiring), then mask off already-visited bits —
      // the complemented-mask step of bfs.m:139, per bit
      val push = adj
        .join(frontier.select(col("id").as("src"), col("mask")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(expr("bit_or(mask)").as("m"))
      val fresh = push
        .join(visited.select(col("id"), col("mask").as("seen")), Seq("id"), "left")
        .select(col("id"),
          expr("m & ~coalesce(seen, 0L)").as("mask"))
        .filter(col("mask") =!= 0L)
        .observe(s"msbfs_${w}_$level", count(lit(1)).as("n"))
      val nextFrontier = Iterate.cutKeyed(fresh, parts, "id")
      frontierBits = Iterate.observedLong(fresh, s"msbfs_${w}_$level")(
        nextFrontier.count())
      if (frontierBits > 0) {
        val newVisited = Iterate.cutKeyed(
          visited.unionByName(nextFrontier)
            .groupBy("id").agg(expr("bit_or(mask)").as("mask")), parts, "id")
        val newResults = Iterate.cutKeyed(
          results.unionByName(
            nextFrontier.select(col("id"),
              explode(bitIdxs("mask")).as("idx"), lit(level).as("dist"))),
          parts, "id")
        Iterate.free(visited); Iterate.free(results); Iterate.free(frontier)
        visited = newVisited
        results = newResults
        frontier = nextFrontier
      } else {
        Iterate.free(nextFrontier)
      }
    }
    val out = results
      .join(broadcast(srcByIdx), Seq("idx"))
      .select(col("id"), col("src"), col("dist"))
    Iterate.free(visited)
    out
  }

  /** Indices of the set bits of a 64-bit mask column (by name), as an array
    * column — codegen'd higher-order filter, no UDF. (shiftright with a
    * COLUMN shift count is SQL-surface-only, hence the expr string.)
    */
  private def bitIdxs(maskCol: String) =
    expr(s"filter(sequence(0, 63), i -> (shiftright($maskCol, i) & 1) = 1)")
}
