package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Distributed maximal matching — the edge twin of Luby's MIS (LAGraph's
  * MaximalMatching): each round, a candidate edge whose priority is the
  * strict maximum among ALL candidate edges sharing either endpoint joins
  * the matching; both endpoints then drop out, and the loop repeats on the
  * surviving edges until none remain. Expected O(log m) rounds; the result
  * is a maximal (not maximum) matching, and — because priorities are unique
  * — a DETERMINISTIC one, identical at any parallelism.
  *
  * The priority packs an LCG-mixed key with the edge id itself as the
  * low-bit tie-break, so it is UNIQUE by construction and expressible in
  * plain arithmetic (mirrorable by a SQL oracle, same trick as
  * [[RandomWalk]]/[[Coloring]]):
  *
  *   q(a,b) = (((a·2000003 + b)·48271 mod 1000000007) mod 2^20)·2^42
  *            + a·2^21 + b
  *
  * — pseudo-random in the top 20 bits, injective via (a,b) in the low 42
  * (requires ids < 2^21 ≈ 2.09M; at web scale swap the top bits for
  * xxhash64 — the schedule is identical). All terms stay well inside int64.
  *
  * Plan shape per round: one per-vertex max over incident candidate edges
  * (an exchange keyed by vertex), one join back to check both endpoints —
  * no quadratic intermediate, state is a cutKeyed leaf.
  */
object Matching {

  /** Max supported vertex id + 1 (the low-bit packing width). */
  val MaxId: Long = 1L << 21

  def priority(a: Column, b: Column): Column =
    (((a * lit(2000003L) + b) * lit(48271L)) % lit(1000000007L) % lit(1L << 20)) *
      lit(1L << 42) + a * lit(1L << 21) + b

  /** The matched edges (src, dst), canonical src<dst. */
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

    var cand = Iterate.cutKeyed(
      canon.select(col("a"), col("b"), priority(col("a"), col("b")).as("q")),
      parts, "a")
    var nCand = cand.count()
    require(nCand == 0 ||
      cand.agg(max(greatest(col("a"), col("b")))).head.getLong(0) < MaxId,
      s"packed priority needs vertex ids < $MaxId")
    var matched = Iterate.cutKeyed(
      cand.filter(lit(false)).select(col("a"), col("b")), parts, "a")
    var round = 0

    while (nCand > 0 && round < maxIter) {
      round += 1
      // per-vertex max priority over incident candidate edges
      val vmax = cand.select(col("a").as("v"), col("q"))
        .unionByName(cand.select(col("b").as("v"), col("q")))
        .groupBy("v").agg(max(col("q")).as("vq"))
      val sel = cand
        .join(vmax.select(col("v").as("a"), col("vq").as("qa")), Seq("a"))
        .join(vmax.select(col("v").as("b"), col("vq").as("qb")), Seq("b"))
        .filter(col("q") === col("qa") && col("q") === col("qb"))
        .select(col("a"), col("b"))
      val newMatched = Iterate.cutKeyed(matched.unionByName(sel), parts, "a")
      // drop every edge touching a matched vertex
      val mv = newMatched.select(col("a").as("v"))
        .unionByName(newMatched.select(col("b").as("v"))).distinct()
      val rest = cand
        .join(mv.select(col("v").as("a")), Seq("a"), "left_anti")
        .join(mv.select(col("v").as("b")), Seq("b"), "left_anti")
        .select(col("a"), col("b"), col("q"))
        .observe(s"matching_$round", count(lit(1)).as("n"))
      val newCand = Iterate.cutKeyed(rest, parts, "a")
      val left = Iterate.observedLong(rest, s"matching_$round")(newCand.count())
      require(left < nCand, s"matching stalled at round $round ($left candidates)")
      Iterate.free(cand); Iterate.free(matched)
      cand = newCand; matched = newMatched
      nCand = left
    }
    require(nCand == 0, s"matching did not converge in $maxIter rounds")
    (matched.select(col("a").as("src"), col("b").as("dst")), round)
  }
}
