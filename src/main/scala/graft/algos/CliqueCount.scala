package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** 4-clique counting — the next rung of the subgraph-census ladder after
  * triangles ([[TriangleCount]], SandiaDot2 semantics) and butterflies
  * ([[CoCitation.butterflies]]): count K4s and each vertex's participation.
  * Standard ordered enumeration: materialize ordered triangles a<b<c, then
  * extend each by a fourth vertex d>c adjacent to all three — every K4 is
  * generated exactly once.
  *
  * Spark shape: the triangle table (one wedge join + one semi-join mask, the
  * tricount plan) is persisted and COUNTED, and the extension join's shuffle
  * partition count is sized by the extension-candidate estimate (triangles ×
  * mean degree) rather than the input — the same intermediate-sized
  * partitioning rule as [[TriangleCount]]: the c-keyed join output is
  * quadratic-ish in degree, and AQE can coalesce a too-fine shuffle but
  * never split a too-coarse one. The two closing checks are left-semi joins
  * on (a,d)/(b,d), pushed before any counting.
  */
object CliqueCount {

  /** Per-vertex K4 participation: (id, cliques4), one row per vertex in at
    * least one 4-clique. The global count is Σ cliques4 / 4.
    */
  def fourCliques(spark: SparkSession, edges: DataFrame,
                  numPartitions: Int = 0): DataFrame = {
    val parts = Iterate.partitions(spark, numPartitions)

    val canon = edges.select(
        least(col("src"), col("dst")).as("lo"), greatest(col("src"), col("dst")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
      .repartition(parts, col("lo"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val e1 = canon.select(col("lo").as("a"), col("hi").as("b"))
    val e2 = canon.select(col("lo").as("b"), col("hi").as("c"))
    val tri = e1.join(e2, Seq("b"))
      .join(canon.select(col("lo").as("a"), col("hi").as("c")), Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nTri = tri.count()
    val m = canon.count()
    val nV = math.max(1L,
      canon.select(col("lo")).union(canon.select(col("hi"))).distinct().count())
    val meanDeg = 2.0 * m / nV
    val extEst = (nTri * meanDeg).toLong
    val extParts = math.max(parts, math.min(16L * parts, extEst / 1500000L)).toInt

    val confKey = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(confKey)
    spark.conf.set(confKey, extParts.toString)
    val out = try {
      val k4 = tri
        .join(canon.select(col("lo").as("c"), col("hi").as("d")), Seq("c"))
        .join(canon.select(col("lo").as("a"), col("hi").as("d")), Seq("a", "d"), "left_semi")
        .join(canon.select(col("lo").as("b"), col("hi").as("d")), Seq("b", "d"), "left_semi")
      val perV = k4.select(col("a").as("id"))
        .unionByName(k4.select(col("b").as("id")))
        .unionByName(k4.select(col("c").as("id")))
        .unionByName(k4.select(col("d").as("id")))
        .groupBy("id").agg(count(lit(1)).as("cliques4"))
      perV.cache(); perV.count()
      perV
    } finally spark.conf.set(confKey, prev)
    tri.unpersist(false); canon.unpersist(false)
    out
  }
}
