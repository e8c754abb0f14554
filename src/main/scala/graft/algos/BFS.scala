package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Level-synchronous BFS with the reference's semantics
  * (GraphBLAS/@GrB/bfs.m): per level, v<q> = level (subassign under the
  * frontier's structural mask, bfs.m:136), then
  * q<~v,replace> = q * A with the any.pair semiring and COMPLEMENTED mask
  * (bfs.m:139-140) — i.e. expand the frontier and drop already-visited
  * vertices. Parent variant uses any.first with q(i)=i ids (bfs.m:149-167);
  * ANY made deterministic as MIN parent.
  *
  * Spark shape: frontier is a (usually small) Dataset — Catalyst/AQE
  * broadcasts it against the partitioned adjacency (the reference's "push"
  * direction); the complemented mask is a left-anti join against the visited
  * set.
  */
object BFS {

  /** Returns (id, level, parent) for reachable vertices; source has level 0,
    * parent = itself.
    */
  def run(spark: SparkSession, edges: DataFrame, source: Long, maxIter: Int = 10000,
          numPartitions: Int = 0, checkpointDir: Option[String] = None,
          checkpointEvery: Int = 10): DataFrame = {
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val parts = Iterate.partitions(spark, numPartitions)

    // repartition(src) BEFORE the distinct: hash(src) satisfies the dedup
    // agg's ClusteredDistribution(src,dst) (subset rule), one exchange in
    // setup instead of two — same fusion as PageRank's adjacency
    val adj = edges.select(col("src"), col("dst"))
      .repartition(parts, col("src"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // visited is referenced twice per level (anti-join + union): cut() per
    // level keeps plans leaf-sized (graft.core.Iterate). With checkpointDir,
    // a rerun resumes from the newest snapshot with ALL visited vertices as
    // the frontier — the anti-join drops already-visited neighbors, so the
    // over-wide frontier only re-derives the true one on the resume round.
    val resumed = checkpointDir
      .flatMap(graft.core.Checkpoint.newest(spark, _, Seq("id", "level", "parent"), s"src=$source"))
    var visited = Iterate.cut(resumed.map(_._2).getOrElse(
      spark.range(1).select(lit(source).as("id"),
        lit(0).as("level"), lit(source).as("parent"))))
    var frontier = visited.select(col("id"))
    var level = resumed.map(_._1).getOrElse(0)
    var frontierSize = 1L

    while (frontierSize > 0 && level < maxIter) {
      val t0 = System.nanoTime()
      level += 1
      // q<~v,replace> = q * A  (any.first for parents, min-deterministic);
      // the frontier size is observed during the cut pass itself (no extra job)
      val nextPre = adj.join(frontier.select(col("id").as("src")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("src")).as("parent"))
        .join(visited.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(level).as("level"), col("parent"))
        .observe(s"bfs_$level", count(lit(1)).as("n"))
      val next = Iterate.cut(nextPre)
      frontierSize = Iterate.observedLong(nextPre, s"bfs_$level")(next.count())
      if (frontierSize > 0) {
        val newVisited = Iterate.cut(visited.unionByName(next))
        Iterate.free(visited)
        visited = newVisited
        frontier = next.select("id")
      }
      // next stays cached as the frontier for one more level; the superseded
      // frontier blocks are freed by the ContextCleaner (tiny)
      checkpointDir.foreach { dir =>
        graft.core.Checkpoint.logMetric(spark, dir, "level" -> level.toLong,
          "frontier" -> frontierSize, "millis" -> (System.nanoTime() - t0) / 1000000)
        if (level % checkpointEvery == 0 || frontierSize == 0 || level == maxIter)
          graft.core.Checkpoint.write(
            visited.select(col("id"), col("level"), col("parent")), dir, level,
            s"src=$source")
      }
    }
    adj.unpersist(false)
    visited
  }
}
