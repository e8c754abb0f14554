package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** TrustRank (Gyöngyi, Garcia-Molina, Pedersen, VLDB 2004) and relative
  * spam mass (Gyöngyi et al., VLDB 2006) — link-spam analysis over a crawl
  * graph. TrustRank is PageRank with the teleport (and sink-mass
  * redistribution) concentrated uniformly on a TRUSTED seed set; spam mass
  * compares it against uniform PageRank: mass(v) = (pr(v) − tr(v)) / pr(v),
  * ≈0 for pages whose rank is reachable from trust, →1 for rank
  * manufactured by link farms the seed set cannot reach.
  *
  * Same iteration algebra as the reference's pagerank.m (damp, d(sink)=1,
  * sink mass to the teleport distribution — [[PageRank]] cites lines), but
  * the seed set here is a PREDICATE column over the vertex id, not a
  * literal watchlist: a production trust set (e.g. "id in the seed
  * partition", "domain verified") is graph-sized, so it must ride the row —
  * codegen'd per vertex, never an isin literal and never a join.
  * |seeds| is one count() aggregate.
  *
  * Spark shape per iteration: identical to [[PageRank]] — one gather join
  * co-partitioned on src, one scatter hash-agg on dst, one co-partitioned
  * state merge with cutKeyed lineage truncation. Fixed k, no early exit
  * (the unrolled SQL oracle mirrors it term for term).
  */
object TrustRank {

  /** (id, r) after exactly k biased-teleport iterations. */
  def runFixed(spark: SparkSession, edges: DataFrame, k: Int, trusted: Column,
               damp: Double = 0.85, numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(runImpl(spark, edges, k, trusted, damp,
      numPartitions))

  private def runImpl(spark: SparkSession, edges: DataFrame, k: Int,
                      trusted: Column, damp: Double,
                      numPartitions: Int): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    val adj = edges.select(col("src"), col("dst")).distinct()
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val degrees = adj.select(col("src").as("id"))
      .union(adj.select(col("dst").as("id"))).distinct()
      .repartition(parts, col("id"))
      .join(adj.groupBy(col("src").as("id"))
        .agg(count(lit(1)).cast("double").as("od")), Seq("id"), "left")
      .select(col("id"), coalesce(col("od"), lit(1.0)).as("d"),
        col("od").isNull.as("isSink"), trusted.as("isSeed"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSeeds = degrees.filter(col("isSeed")).count()
    require(nSeeds > 0, "TrustRank needs a non-empty trusted seed set")

    // start from the trust distribution itself (TrustRank §4.3: t0 = d/|S|)
    val sinkMass = sum(when(col("isSink"), col("r"))).as("sinkMass")
    val state = Iterate.fixpoint(degrees.select(col("id"),
        when(col("isSeed"), lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("r"),
        col("d"), col("isSink"), col("isSeed")),
      parts, Seq("id"), k, metrics = Seq(sinkMass), initMetrics = Seq(sinkMass)) {
      (state, _, prev) =>
        val base = (1.0 - damp) / nSeeds + damp * Iterate.double(prev, 0) / nSeeds
        val stateT = state.select(col("id").as("src"),
          (col("r") / col("d")).as("t"))
        val contrib = adj.join(stateT, Seq("src"))
          .groupBy(col("dst").as("id")).agg(sum(col("t")).as("s"))
        state.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (when(col("isSeed"), lit(base)).otherwise(lit(0.0)) +
              lit(damp) * coalesce(col("s"), lit(0.0))).as("r"),
            col("d"), col("isSink"), col("isSeed"))
    } { (_, _) => false }.state
    adj.unpersist(false); degrees.unpersist(false)
    state.select(col("id"), col("r"))
  }

  /** Anti-TrustRank (Krishnan & Raj, AIRWeb 2006): the trust computation
    * run BACKWARD from a known-SPAM seed set — a page linking into spam
    * accumulates spam score along reversed edges. Identical algebra to
    * [[runFixed]] on the transposed graph; the seed predicate marks spam.
    */
  def antiTrust(spark: SparkSession, edges: DataFrame, k: Int, spam: Column,
                damp: Double = 0.85, numPartitions: Int = 0): DataFrame =
    runFixed(spark,
      edges.select(col("dst").as("src"), col("src").as("dst")),
      k, spam, damp, numPartitions)

  /** Relative spam mass: (id, pr, tr, spam_mass) with pr/tr each rounded to
    * 8 decimals FIRST and the mass computed from the rounded values (both
    * sides of the oracle compute the identical float expression — the
    * engine-independence contract used by the other mirrored-float queries).
    */
  def spamMass(spark: SparkSession, edges: DataFrame, k: Int,
               trusted: Column, damp: Double = 0.85): DataFrame = {
    val pr = PageRank.runFixed(spark, edges, k, damp)
      .select(col("id"), round(col("r"), 8).as("pr"))
    val tr = runFixed(spark, edges, k, trusted, damp)
      .select(col("id"), round(col("r"), 8).as("tr"))
    pr.join(tr, Seq("id"))
      .select(col("id"), col("pr"), col("tr"),
        round((col("pr") - col("tr")) / col("pr"), 6).as("spam_mass"))
  }
}
