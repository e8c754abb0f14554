package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Single-source shortest paths via the min-plus semiring — the classic
  * GraphBLAS Bellman-Ford iteration d = min(d, min.+(d, A)) to fixpoint
  * (SURVEY.md §2.9 MinPlus). Only vertices whose distance changed propagate
  * next round (delta frontier), so late rounds touch a shrinking edge subset.
  */
object SSSP {

  /** Returns (id, dist) for reachable vertices. Edge weights must be >= 0 for
    * termination within |V| rounds (Bellman-Ford bound enforced by maxIter).
    *
    * With `checkpointDir`, distance snapshots land every `checkpointEvery`
    * rounds (graft.core.Checkpoint) and a rerun resumes from the newest
    * complete one with the FULL distance table as the frontier — a correct
    * over-approximation (re-relaxing settled vertices can only rediscover
    * their current distances), costing one wider round after resume.
    */
  def run(spark: SparkSession, edges: DataFrame, source: Long, maxIter: Int = 10000,
          numPartitions: Int = 0, checkpointDir: Option[String] = None,
          checkpointEvery: Int = 10): DataFrame = {
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val parts = Iterate.partitions(spark, numPartitions)

    val adj = edges.select(col("src"), col("dst"), col("w"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val resumed = checkpointDir
      .flatMap(graft.core.Checkpoint.newest(spark, _, Seq("id", "dist"), s"src=$source"))
    var dist = Iterate.cut(resumed.map(_._2).getOrElse(spark.range(1)
      .select(lit(source).as("id"), lit(0.0).as("dist"))))
    var frontier = dist
    var active = 1L
    var iter = resumed.map(_._1).getOrElse(0)

    while (active > 0 && iter < maxIter) {
      val t0 = System.nanoTime()
      iter += 1
      // relax: candidate dist via frontier (min-plus vxm)
      val cand = adj.join(frontier.select(col("id").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("nd"))
        .groupBy("id").agg(min(col("nd")).as("nd"))
      // improved = strictly better than current (or newly reached); its size
      // is observed during the cut pass itself (no extra count job)
      val improvedPre = cand.join(dist, Seq("id"), "left")
        .filter(col("dist").isNull || col("nd") < col("dist"))
        .select(col("id"), col("nd").as("dist"))
        .observe(s"sssp_$iter", count(lit(1)).as("n"))
      val improved = Iterate.cut(improvedPre)
      active = Iterate.observedLong(improvedPre, s"sssp_$iter")(improved.count())
      if (active > 0) {
        val newDist = Iterate.cut(dist.join(improved.select("id"), Seq("id"), "left_anti")
          .unionByName(improved))
        Iterate.free(dist)
        if (frontier ne dist) Iterate.free(frontier)
        dist = newDist
        frontier = improved
      } else Iterate.free(improved)
      checkpointDir.foreach { dir =>
        graft.core.Checkpoint.logMetric(spark, dir, "iter" -> iter.toLong,
          "relaxed" -> active, "millis" -> (System.nanoTime() - t0) / 1000000)
        if (iter % checkpointEvery == 0 || active == 0 || iter == maxIter)
          graft.core.Checkpoint.write(dist.select(col("id"), col("dist")), dir, iter, s"src=$source")
      }
    }
    adj.unpersist(false)
    dist
  }
}
