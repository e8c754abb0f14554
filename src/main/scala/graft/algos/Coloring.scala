package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Distributed greedy graph coloring — Jones-Plassmann (the parallel
  * maximal-independent-set schedule of greedy coloring; LAGraph ships the
  * same family). Each round, every uncolored vertex whose PRIORITY beats all
  * of its uncolored neighbors takes the smallest color absent from its
  * already-colored neighborhood (the "mex"). Selected vertices are never
  * adjacent (strict unique priorities), so a round is conflict-free; colors
  * never exceed maxDegree+1; expected O(log n) rounds.
  *
  * The priority is an LCG over the vertex id — (id·48271 + 11213) mod
  * 1000000007, INJECTIVE for ids below the modulus (required) — instead of
  * an engine-internal hash, so the whole algorithm is deterministic AND
  * mirrorable by a plain-SQL oracle (same trick as [[RandomWalk]]). For
  * adversarial-id graphs at scale you'd swap in xxhash64 priorities (one
  * line); the schedule is otherwise identical.
  *
  * Plan shape per round: the uncolored-neighbor max and the used-color mex
  * are each one equi-join + one aggregation on the vertex partitioning;
  * state (id, color) is a cutKeyed leaf. No vertex data ever reaches the
  * driver; the mex is a codegen'd higher-order filter over a collect_set
  * bounded by the vertex degree.
  */
object Coloring {

  def priority(id: Column): Column =
    (id * lit(48271L) + lit(11213L)) % lit(1000000007L)

  /** (id, color) for every vertex; colors are 0-based. */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 10000,
          numPartitions: Int = 0): DataFrame =
    runCounted(spark, edges, maxIter, numPartitions)._1

  def runCounted(spark: SparkSession, edges: DataFrame, maxIter: Int = 10000,
                 numPartitions: Int = 0): (DataFrame, Int) =
    Iterate.withoutAQE(spark)(loop(spark, edges, maxIter, numPartitions))

  private def loop(spark: SparkSession, edges: DataFrame, maxIter: Int,
                   numPartitions: Int): (DataFrame, Int) = {
    val parts = Iterate.partitions(spark, numPartitions)

    val canon = edges.select(
        least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = canon.unionByName(canon.select(col("b").as("a"), col("a").as("b")))
      .repartition(parts, col("a"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var cand = Iterate.cutKeyed(
      und.select(col("a").as("id")).distinct(), parts, "id")
    var nCand = cand.count()
    require(nCand == 0 ||
      cand.agg(max(col("id"))).head.getLong(0) < 1000000007L,
      "LCG priority needs vertex ids < 1000000007")
    var colored = Iterate.cutKeyed(
      cand.filter(lit(false)).select(col("id"), lit(0L).as("color")),
      parts, "id")
    var round = 0

    while (nCand > 0 && round < maxIter) {
      round += 1
      // max priority among UNCOLORED neighbors (null = none left)
      val nbrMax = und
        .join(cand.select(col("id").as("b")), Seq("b"), "left_semi")
        .groupBy(col("a").as("id")).agg(max(priority(col("b"))).as("mp"))
      val sel = cand.join(nbrMax, Seq("id"), "left")
        .filter(priority(col("id")) > coalesce(col("mp"), lit(-1L)))
        .select("id")
      // mex of the colors already used in the neighborhood
      val used = und
        .join(sel.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(colored.select(col("id").as("b"), col("color")), Seq("b"))
        .groupBy(col("a").as("id")).agg(collect_set(col("color")).as("used"))
      val mex = expr(
        "filter(sequence(0L, cast(size(used) + 1 AS bigint)), " +
          "c -> NOT array_contains(used, c))[0]")
      val newCols = sel.join(used, Seq("id"), "left")
        .select(col("id"),
          when(col("used").isNull, lit(0L)).otherwise(mex).as("color"))
      val newColored = Iterate.cutKeyed(
        colored.unionByName(newCols), parts, "id")
      val rest = cand.join(newCols.select("id"), Seq("id"), "left_anti")
        .observe(s"coloring_$round", count(lit(1)).as("n"))
      val newCand = Iterate.cutKeyed(rest, parts, "id")
      val left = Iterate.observedLong(rest, s"coloring_$round")(newCand.count())
      require(left < nCand, s"coloring stalled at round $round ($left uncolored)")
      Iterate.free(cand); Iterate.free(colored)
      cand = newCand; colored = newColored
      nCand = left
    }
    require(nCand == 0, s"coloring did not converge in $maxIter rounds")
    und.unpersist(false)
    (colored, round)
  }
}
