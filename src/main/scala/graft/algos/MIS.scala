package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Maximal independent set — Luby's algorithm per GraphBLAS/@GrB/mis.m:
  * candidates start as all vertices; per round each candidate draws a score
  * (mis.m uses random/degree; here a DETERMINISTIC per-round hash/(deg+1) so
  * runs reproduce exactly), neighbor_max = mxm(max.second, A, prob) restricted
  * to candidates, winners (score > neighbor_max, ties impossible with distinct
  * hash) join the set, winners+their neighbors leave the candidate pool
  * (complemented structural masks in mis.m).
  *
  * Returns (id, inSet). Result is a valid MIS: no two set members adjacent,
  * every non-member has a set neighbor (asserted in tests).
  *
  * Loop parity with the other five iterative algorithms: the remaining-
  * candidate count is OBSERVED during the state materialization (no separate
  * count job per round), and the (id, deg, cand, inSet) state vector is
  * checkpointable/resumable via graft.core.Checkpoint (tag = the score seed,
  * so a dir written under a different seed is refused).
  */
object MIS {

  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 100, seed: Long = 42L,
          numPartitions: Int = 0,
          checkpointDir: Option[String] = None, checkpointEvery: Int = 10): DataFrame =
    Iterate.withoutAQE(spark)(runLoop(spark, edges, maxIter, seed, numPartitions,
      checkpointDir, checkpointEvery, None))

  /** SQL-mirrorable variant: pure LCG integer priorities (Coloring's trick)
    * in place of the hash/degree draw — the same Luby schedule round for
    * round, but exactly unrollable in the DuckDB oracle (xxhash64 has no
    * SQL equivalent; the degree-weighted draw only changes EXPECTED round
    * counts, not validity). The stall-reseed salt still perturbs draws on a
    * stalled round, so termination is unconditional.
    */
  def runLcg(spark: SparkSession, edges: DataFrame, maxIter: Int = 100,
             numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(runLoop(spark, edges, maxIter, 0L, numPartitions,
      None, 10, Some((cand, it, salt) => cand.select(col("id"),
        ((col("id") * 48271L + lit(it.toLong) * 2000003L + lit(11213L + salt))
          % 1000000007L).cast("double").as("score")))))

  /** Test hook: override the per-round score draw. `scoreFn(candState, iter,
    * salt)` must return (id, score) rows for the candidates. Used by specs to
    * FORCE adjacent-equal scores and exercise the stall-reseed path, which is
    * unreachable (p ≈ 2⁻⁶⁴ per pair) under the real hash.
    */
  private[graft] def runWithScores(spark: SparkSession, edges: DataFrame,
          maxIter: Int = 100, seed: Long = 42L, numPartitions: Int = 0,
          scoreFn: (DataFrame, Int, Long) => DataFrame): DataFrame =
    Iterate.withoutAQE(spark)(runLoop(spark, edges, maxIter, seed, numPartitions,
      None, 10, Some(scoreFn)))

  private def runLoop(spark: SparkSession, edges: DataFrame, maxIter: Int, seed: Long,
          numPartitions: Int,
          checkpointDir: Option[String], checkpointEvery: Int,
          scoreFn: Option[(DataFrame, Int, Long) => DataFrame]): DataFrame = {
    val stateCols = Seq("id", "deg", "cand", "inSet")
    val snapshots = Iterate.Snapshots(checkpointDir, checkpointEvery, stateCols,
      tag = s"seed=$seed", log = row => Seq("candidates" -> Iterate.long(row, 0)))
    val parts = Iterate.partitions(spark, numPartitions)

    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val vertices = und.select(col("src").as("id")).distinct()
      .join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))

    // stall-reseed salt (mis.m:70-73 redraws scores on a stalled round): a
    // round that selects NO winner while candidates remain — only possible
    // when adjacent candidates drew EQUAL scores (strict > on both sides) —
    // bumps the salt, changing every subsequent draw. salt=0 leaves the
    // score stream identical to the unsalted one, so normal runs reproduce.
    var salt = 0L
    // one unified state vector (id, deg, cand, inSet) — the checkpoint unit
    val fp = Iterate.fixpoint(vertices.select(col("id"), col("deg"),
        lit(true).as("cand"), lit(false).as("inSet")), parts, Seq("id"), maxIter,
      metrics = Seq(sum(when(col("cand"), 1L).otherwise(0L)).as("ncand"),
        sum(when(col("wonNow"), 1L).otherwise(0L)).as("nwon")),
      checkpoint = snapshots) { (state, iter, prev) =>
      if (prev.length > 0 && Iterate.long(prev, 1) == 0L && Iterate.long(prev, 0) > 0L)
        salt += 1L // the previous round stalled: reseed draws
      // deterministic "random" score; strictly positive, distinct w.h.p.
      val scored = scoreFn match {
        case Some(f) => f(state.filter(col("cand")), iter, salt)
        case None => state.filter(col("cand")).select(col("id"),
          (((abs(xxhash64(col("id"), lit(iter), lit(seed + salt * 0x9E3779B97F4A7C15L)))
            % 1000000007L).cast("double") + 1.0)
            / (col("deg").cast("double") + 1.0)).as("score"))
      }

      // neighbor max over candidate neighbors only (max.second masked to candidates)
      val nbrMax = und
        .join(scored.select(col("id").as("src"), col("score").as("s")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(max(col("s")).as("nmax"))

      val winners = scored.join(nbrMax, Seq("id"), "left")
        .filter(col("nmax").isNull || col("score") > col("nmax"))
        .select(col("id"), lit(true).as("won"))

      // removed = winners + neighbors(winners); both leave the candidate pool
      val removed = winners.select("id").unionByName(
        und.join(winners.select(col("id").as("src")), Seq("src"))
          .select(col("dst").as("id"))).distinct()
        .select(col("id"), lit(true).as("rm"))

      state
        .join(winners, Seq("id"), "left").join(removed, Seq("id"), "left")
        .select(col("id"), col("deg"),
          (col("cand") && col("rm").isNull).as("cand"),
          (col("inSet") || coalesce(col("won"), lit(false))).as("inSet"),
          coalesce(col("won"), lit(false)).as("wonNow"))
    } { (_, row) => Iterate.long(row, 0) == 0L }
    und.unpersist(false)
    fp.state.select(col("id"), col("inSet"))
  }
}
