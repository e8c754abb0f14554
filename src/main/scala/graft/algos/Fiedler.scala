package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Fiedler vector (the eigenvector of the second-smallest Laplacian
  * eigenvalue) by DEFLATED power iteration on the shifted operator
  * M = σI − L with σ = 2·maxdeg: Gershgorin bounds λmax(L) ≤ 2·maxdeg, so
  * M is PSD and its top eigenpair is (σ, 1⃗) — the all-ones vector L
  * annihilates. Subtracting the mean each step deflates 1⃗ exactly, so the
  * iteration's dominant surviving direction is the Fiedler vector; its sign
  * pattern is the classic spectral bisection (Fiedler 1973, the sparsest-cut
  * relaxation every multilevel partitioner bootstraps from).
  *
  * Determinism/oracle discipline: fixed k, L1 renormalization (sums + one
  * division — the float discipline [[PageRank.runFixed]] and [[Eigenvector]]
  * are oracle-green under), sign fixed by the minimum-id component, output
  * rounded. A fixed-k run is a deterministic function of the input that an
  * unrolled SQL oracle mirrors; CONVERGENCE quality is the spec's job
  * (planted barbell bisects exactly at k=40).
  *
  * Loop shape at scale: one co-partitioned gather join + one aggregation per
  * iteration against a cutKeyed leaf (the identical exchange plan as
  * [[Eigenvector]]), plus two 1-row scalar aggregates (mean, L1) on the
  * materialized state — at cluster scale those fold into the state pass as
  * CollectMetrics observations exactly like PageRank's convergence scalars;
  * with small fixed k the plain agg keeps the plan obvious. The centering +
  * normalization is a pure projection over the cut leaf — no extra shuffle.
  */
object Fiedler {

  /** @return (id, f) — the k-step deflated power iterate, L1-normalized,
    *         sign-fixed so the minimum-id component is ≥ 0.
    */
  def runFixed(spark: SparkSession, edges: DataFrame, k: Int = 8,
               numPartitions: Int = 0): DataFrame =
    Iterate.withoutAQE(spark)(loop(spark, edges, k, numPartitions))

  private def loop(spark: SparkSession, edges: DataFrame, k: Int,
                   numPartitions: Int): DataFrame = {
    require(k >= 1, "need at least one iteration")
    val parts = Iterate.partitions(spark, numPartitions)

    val canon = edges.select(
        least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(canon.select(col("b").as("src"), col("a").as("dst")))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // id-keyed degree table, co-partitioned with the state it joins
    val deg = Iterate.cutKeyed(
      und.groupBy(col("src").as("id")).agg(count(lit(1)).cast("double").as("d")),
      parts, "id")
    val n = deg.count()
    val sigma = 2.0 * deg.agg(max(col("d"))).head.getDouble(0)

    // x0 = vertex id, centered + L1-normalized (deterministic, never
    // constant on >1 vertex, and trivially mirrored in SQL)
    def centerNormalize(y: DataFrame): DataFrame = {
      val m = y.agg(sum(col("y"))).head.getDouble(0) / n
      val l1 = y.agg(sum(abs(col("y") - m))).head.getDouble(0)
      y.select(col("id"), ((col("y") - m) / l1).as("x"))
    }
    // the state leaf each x projects over, tracked so free() sees the leaf
    var leaf = Iterate.cutKeyed(
      deg.select(col("id"), col("id").cast("double").as("y")), parts, "id")
    var x = centerNormalize(leaf)

    for (_ <- 1 to k) {
      // y = (σ − deg)·x + Σ_{v~u} x(v): one gather exchange + one
      // co-partitioned merge against the deg/state leaf
      val gathered = und
        .join(x.select(col("id").as("src"), col("x").as("xs")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("xs")).as("g"))
      val y = deg.join(x, Seq("id")).join(gathered, Seq("id"), "left")
        .select(col("id"),
          ((lit(sigma) - col("d")) * col("x") + coalesce(col("g"), lit(0.0))).as("y"))
      val cut = Iterate.cutKeyed(y, parts, "id")
      val next = centerNormalize(cut)
      Iterate.free(leaf)
      leaf = cut
      x = next
    }
    und.unpersist(false)
    // sign convention: the minimum-id component is ≥ 0
    val sgn = if (x.orderBy("id").select("x").head.getDouble(0) >= 0) 1.0 else -1.0
    x.select(col("id"), (col("x") * sgn).as("f"))
  }
}
