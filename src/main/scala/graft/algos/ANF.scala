package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Approximate Neighborhood Function — the ANF algorithm of Palmer, Gibbons
  * & Faloutsos (KDD 2002): every vertex carries k Flajolet-Martin bitmask
  * sketches of its distance-≤h ball; one round of
  * sketch(v) |= OR_{(v,w)∈E} sketch(w) grows h by one, and the FM estimate
  * summed over vertices gives N(h) = #(ordered reachable pairs within h).
  * The effective diameter (smallest h with N(h) ≥ q·N(∞)) falls out of the
  * per-h series. This is the standard way to measure a 100 TB web graph's
  * diameter: O(diameter) rounds, each ONE equi-join + ONE aggregation whose
  * shuffle rows carry 8k bytes regardless of graph size — never an
  * all-pairs anything. (HyperBall is the same loop with HLL registers; FM
  * masks keep the merge a pure bit_or, which Spark partial-aggregates
  * map-side.)
  *
  * Deterministic: sketch bits come from xxhash64(id, j), the loop is a
  * fixpoint (sketches are monotone under OR), and the N(h) sums are taken
  * in decimal — identical output at any parallelism. Approximation error is
  * the FM constant ~0.78/√k (k=64 → ~10%).
  *
  * Returns one row per completed hop h = 0..H: (h, nf, ratio), plus the
  * effective diameter at `quantile` from `runWithDiameter`.
  */
object ANF {

  private val FmPhi = 0.77351

  def run(spark: SparkSession, edges: DataFrame, k: Int = 64,
          maxH: Int = 256, numPartitions: Int = 0): DataFrame =
    runWithDiameter(spark, edges, k, maxH = maxH,
      numPartitions = numPartitions)._1

  /** (per-h table, effective diameter at `quantile`). */
  def runWithDiameter(spark: SparkSession, edges: DataFrame, k: Int = 64,
                      quantile: Double = 0.9, maxH: Int = 256,
                      numPartitions: Int = 0): (DataFrame, Int) = {
    require(k >= 4 && k <= 256, "k in [4, 256]")
    Iterate.withoutAQE(spark)(loop(spark, edges, k, quantile, maxH,
      numPartitions))
  }

  private def loop(spark: SparkSession, edges: DataFrame, k: Int,
                   quantile: Double, maxH: Int,
                   numPartitions: Int): (DataFrame, Int) = {
    import spark.implicits._
    val parts = Iterate.partitions(spark, numPartitions)
    val js = 0 until k

    val adj = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(parts, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // init: sketch j of v sets bit ρ(xxhash64(v, j)) — geometric position =
    // count of trailing zeros, capped at 62 so bit 63 stays clear (keeps
    // every later ~x/x+1 trick sign-safe)
    val initCols = js.map { j =>
      val h = xxhash64(col("id"), lit(j))
      initSketch(h).as(s"s$j")
    }
    val verts = adj.select(col("src").as("id"))
      .unionByName(adj.select(col("dst").as("id"))).distinct()
    var state = Iterate.cutKeyed(verts.select(col("id") +: initCols: _*),
      parts, "id")

    // FM estimate of |ball(v)|: R = mean over sketches of lowest-zero-bit
    // position; E = 2^R / φ
    val estimate = {
      val rs = js.map { j =>
        // lowest zero bit of x = lowest set bit of ~x = (~x) & (x+1)
        val lowZero = expr(s"(~s$j) & (s$j + 1L)")
        when(lowZero < 0, lit(63.0)).otherwise(log2(lowZero.cast("double")))
      }
      pow(lit(2.0), rs.reduce(_ + _) / k) / FmPhi
    }

    def observedNf(df: DataFrame, name: String): java.math.BigDecimal = {
      val r = Iterate.observedRow(df, name)(
        df.agg(sum(estimate.cast("decimal(38,6)"))).head)
      r.getDecimal(0)
    }

    val first = state.agg(sum(estimate.cast("decimal(38,6)")).as("nf")).head
    val nfs = scala.collection.mutable.ArrayBuffer[java.math.BigDecimal](
      first.getDecimal(0))

    var h = 0
    var changed = 1L
    while (changed > 0 && h < maxH) {
      h += 1
      val gathered = adj
        .join(state.select(col("id").as("dst") +: js.map(j => col(s"s$j")): _*),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(expr(s"bit_or(s0)").as("n0"),
          js.tail.map(j => expr(s"bit_or(s$j)").as(s"n$j")): _*)
      // parenthesized + compared via the Column API: SQL's C-style operator
      // precedence puts `!=` ABOVE `&`, so an inline `a & b != 0` string
      // silently becomes a & (b != 0)
      val anyNew = js.map(j => expr(s"(coalesce(n$j, 0L) & (~s$j))") =!= lit(0L))
        .reduce(_ || _)
      val merged = state.join(gathered, Seq("id"), "left")
        .select(col("id") +:
          js.map(j => expr(s"s$j | coalesce(n$j, 0L)").as(s"s$j")) :+
          anyNew.as("chg"): _*)
        .observe(s"anf_$h",
          sum(when(col("chg"), 1L).otherwise(0L)).as("changed"),
          sum(estimate.cast("decimal(38,6)")).as("nf"))
      // cut merged ITSELF (observedLong contract: the observed frame's own
      // QueryExecution must run) — chg rides along in the leaf, ignored by
      // the next round's select
      val next = Iterate.cutKeyed(merged, parts, "id")
      val row = Iterate.observedRow(merged, s"anf_$h")(
        next.agg(sum(when(col("chg"), 1L).otherwise(0L)),
          sum(estimate.cast("decimal(38,6)"))).head)
      changed = if (row.isNullAt(0)) 0L else row.getLong(0)
      nfs += row.getDecimal(1)
      Iterate.free(state)
      state = next
    }
    adj.unpersist(false)
    Iterate.free(state)

    // the last round is a no-change fixpoint re-measurement; drop it if it
    // duplicates the previous h (it always does once converged)
    val series = if (nfs.size >= 2 && changed == 0L) nfs.dropRight(1) else nfs.toSeq
    val nfLast = series.last.doubleValue
    val effDiam = series.indexWhere(_.doubleValue >= quantile * nfLast)
    val out = series.zipWithIndex.map { case (nf, i) =>
      (i.toLong, nf.doubleValue,
        if (nfLast > 0) nf.doubleValue / nfLast else 1.0)
    }.toSeq.toDF("h", "nf", "ratio")
    (out, effDiam)
  }

  /** SQL-mirrorable ANF sketch trace — the same monotone FM bit_or loop as
    * [[run]], but with LCG-arithmetic sketch hashes
    * x(v,j) = ((v mod P)·1000003 + 7919·j + 12345) mod P, P = 1000000007,
    * a FIXED hop count, and the per-vertex sketch SUMMARY emitted per hop:
    * rsum(v,h) = Σ_j lowestZeroBit(sketch_j of v's ≤h out-ball). Exactly the
    * [[MIS.runLcg]] trick: xxhash64 is opaque to SQL, an LCG isn't, so a
    * DuckDB oracle can re-derive every bit of the sketch dynamics (ball
    * membership → ρ values → lowest missing position) and pin the engine's
    * OR-propagation end to end. rsum is the integer the FM estimate
    * 2^(rsum/k)/φ is a pure function of — the estimate math stays float-free
    * here so the oracle compare is exact.
    */
  def runLcgTrace(spark: SparkSession, edges: DataFrame, k: Int = 16,
                  hops: Int = 4): DataFrame =
    Iterate.withoutAQE(spark)(lcgTraceLoop(spark, edges, k, hops))

  private def lcgTraceLoop(spark: SparkSession, edges: DataFrame, k: Int,
                           hops: Int): DataFrame = {
    val P = 1000000007L
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val js = 0 until k

    val adj = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(parts, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val initCols = js.map { j =>
      val x = ((col("id") % P) * 1000003L + 7919L * j + 12345L) % P
      initSketch(x).as(s"s$j")
    }
    val verts = adj.select(col("src").as("id"))
      .unionByName(adj.select(col("dst").as("id"))).distinct()
    var state = Iterate.cutKeyed(verts.select(col("id") +: initCols: _*),
      parts, "id")

    // Σ_j lowest-zero-bit position — integer-valued (log2 of a power of 2
    // is IEEE-exact), cast long for the float-free oracle compare
    val rsum = js.map { j =>
      val lowZero = expr(s"(~s$j) & (s$j + 1L)")
      when(lowZero < 0, lit(63.0)).otherwise(log2(lowZero.cast("double")))
    }.reduce(_ + _).cast("long").as("rsum")

    var trace = state.select(lit(0L).as("h"), col("id"), rsum)
    for (h <- 1 to hops) {
      val gathered = adj
        .join(state.select(col("id").as("dst") +: js.map(j => col(s"s$j")): _*),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(expr(s"bit_or(s0)").as("n0"),
          js.tail.map(j => expr(s"bit_or(s$j)").as(s"n$j")): _*)
      val merged = state.join(gathered, Seq("id"), "left")
        .select(col("id") +:
          js.map(j => expr(s"s$j | coalesce(n$j, 0L)").as(s"s$j")): _*)
      val next = Iterate.cutKeyed(merged, parts, "id")
      trace = trace.unionByName(next.select(lit(h.toLong).as("h"), col("id"), rsum))
      // no Iterate.free here: every hop's leaf stays referenced by the trace
      // union until the caller consumes it (hops is small by contract)
      state = next
    }
    adj.unpersist(false)
    trace
  }

  /** The initial FM word 1L<<ρ(h) IS the isolated lowest set bit h & -h —
    * no shift needed. ρ is capped at 62 (h=0, prob 2^-64, and lowest-bit-63
    * values both map to bit 62) so bit 63 stays clear and every later
    * ~x / x+1 manipulation is sign-safe.
    */
  private def initSketch(h: Column): Column = {
    val low = h.bitwiseAND(-h)
    when(h === 0L || low < 0L, lit(1L << 62)).otherwise(low)
  }
}
