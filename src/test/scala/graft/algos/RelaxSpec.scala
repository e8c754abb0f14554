package graft.algos

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.core.Iterate

/** The shared frontier relaxation ([[Relax]]) behind BFS, SSSP, WidestPath,
  * TemporalReach, Toposort, BellmanFord and Bowtie's reachability: its
  * per-round cost, its answers on any id range, and its failure mode.
  */
class RelaxSpec extends SparkTestBase {
  import spark.implicits._

  /** Directed path 0 → 1 → … → n, unit weights. */
  private def path(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, i + 1L, 1.0)).toDF("src", "dst", "w")

  test("BFS, SSSP and Bowtie reach run one Spark job per extra round") {
    val edges = path(20)
    assert(extraJobs(k => BFS.run(spark, edges, 0L, maxIter = k)) == 3)
    assert(extraJobs(k => SSSP.run(spark, edges, 0L, maxIter = k)) == 3)

    // reach closes one round after the last vertex: rounds = path length + 1
    val parts = Iterate.partitions(spark, 0)
    def reach(n: Int): Unit = {
      val adj = path(n).select(col("src"), col("dst")).repartition(parts, col("src")).cache()
      val seen = Bowtie.reach(adj, Seq(0L).toDF("id"), parts, "spec")
      assert(seen.count() == n + 1)
      Iterate.free(seen)
      adj.unpersist(false)
    }
    assert(extraJobs(reach) == 3)
  }

  test("path algorithms give the same answers on shifted id ranges") {
    val rnd = new scala.util.Random(41L)
    val n = 30
    val base = (0 until 120).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val weights = base.map(_ => (1 + rnd.nextInt(9)).toLong)
    val stamps = base.map(_ => rnd.nextInt(6).toLong)

    /** Every algorithm's output on the graph with ids moved by `off`, with
      * the ids mapped back.
      */
    def answers(off: Long): Map[String, Set[Seq[Any]]] = {
      val es = base.indices.map { i =>
        (base(i)._1 + off, base(i)._2 + off, weights(i), stamps(i))
      }.toDF("src", "dst", "lw", "ts")
      val wd = es.select(col("src"), col("dst"), col("lw").cast("double").as("w"))
      val signed = es.select(col("src"), col("dst"), (col("lw") - 3L).as("w"))
      def back(df: DataFrame, idCols: String*): Set[Seq[Any]] =
        df.collect().map { r =>
          r.toSeq.zip(df.columns).map {
            case (v: Long, c) if idCols.contains(c) => v - off
            case (v, _) => v
          }
        }.toSet
      val src = base.head._1 + off
      Map(
        "bfs" -> back(BFS.run(spark, es, src), "id", "parent"),
        "sssp" -> back(SSSP.run(spark, wd, src), "id"),
        "widest" -> back(WidestPath.run(spark, wd, src), "id"),
        "temporal" -> back(TemporalReach.run(spark, es, src), "id"),
        "toposort" -> back(Toposort.run(spark, es.filter(col("src") < col("dst"))), "id"),
        "bellman" -> back(BellmanFord.runFixed(spark, signed, src, k = 4), "id"))
    }

    val plain = answers(0L)
    assert(plain("bfs").size > 5, "the source must reach part of the graph")
    assert(plain("toposort").nonEmpty && plain("temporal").size > 1)
    for (off <- Seq(-(1L << 33), 1L << 31, (1L << 40) + 17L)) {
      val moved = answers(off)
      for (k <- plain.keys)
        assert(moved(k) == plain(k), s"$k differs with ids shifted by $off")
    }
  }

  test("Toposort on a cycle fails with its maxIter message") {
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](Toposort.run(spark, cyc, maxIter = 20))
    assert(e.getMessage.contains("Toposort: no fixpoint after 20 rounds"), e.getMessage)
  }

  test("BFS logs one fixpoint-shaped metrics line per level") {
    val dir = Files.createTempDirectory("graft-bfs-log").toString
    val got = BFS.run(spark, path(4), 0L, checkpointDir = Some(dir))
    assert(got.count() == 5)
    val lines = scala.io.Source.fromFile(s"$dir/metrics.jsonl").getLines().toList
    val re = """\{"iter":(\d+),"frontier":(\d+),"millis":(\d+)\}""".r
    val parsed = lines.map {
      case re(i, f, _) => (i.toInt, f.toLong)
      case l => fail(s"unparseable metric line: $l")
    }
    // four levels reach one new vertex each; the fifth finds none
    assert(parsed == Seq((1, 1L), (2, 1L), (3, 1L), (4, 1L), (5, 0L)))
  }
}
