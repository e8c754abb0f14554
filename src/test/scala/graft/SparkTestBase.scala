package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GBMatrix

/** One shared local SparkSession for the whole forked test JVM (the analogue
  * of the reference's single in-process test harness, Test/testall.m).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/spark-graft"))
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = "jobs-during-marker"
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      // listener events arrive in posting order: once the marker job shows
      // up, every job `body` started has been counted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains(marker), "listener never saw the marker job")
      (a, jobs.size - 1)
    } finally sc.removeSparkListener(listener)
  }

  /** Jobs `rounds(5)` starts beyond `rounds(2)`: what 3 extra rounds cost. */
  def extraJobs(rounds: Int => Any): Int = {
    val (_, j2) = jobsDuring(rounds(2))
    val (_, j5) = jobsDuring(rounds(5))
    j5 - j2
  }

  // --- converters between the dense mimic's Map form and DataFrames ---------

  def toMatrix(m: Map[(Long, Long), Double]): GBMatrix =
    GBMatrix.of(spark, m.toSeq.map { case ((i, j), w) => (i, j, w) })

  def toMap(m: GBMatrix): Map[(Long, Long), Double] =
    m.df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  def vecToDF(v: Map[Long, Double]): DataFrame = {
    import spark.implicits._
    v.toSeq.toDF("id", "v")
  }

  def dfToVec(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Compare two sparse maps: same key set, values within tol. */
  def assertMatrixEq(got: Map[(Long, Long), Double], want: Map[(Long, Long), Double],
                     tol: Double = 1e-9, ctx: String = ""): Unit = {
    assert(got.keySet == want.keySet,
      s"$ctx pattern mismatch: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    for ((k, w) <- want)
      assert(math.abs(got(k) - w) <= tol, s"$ctx value mismatch at $k: got ${got(k)}, want $w")
  }

  def assertVecEq(got: Map[Long, Double], want: Map[Long, Double],
                  tol: Double = 1e-9, ctx: String = ""): Unit = {
    assert(got.keySet == want.keySet,
      s"$ctx pattern mismatch: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    for ((k, w) <- want)
      assert(math.abs(got(k) - w) <= tol, s"$ctx value mismatch at $k: got ${got(k)}, want $w")
  }

  /** Seeded sprand-style random sparse matrix (FIXTURES.md randomized
    * property tests): n×n, ~density, values in [1, 10) so min/plus/times all
    * behave and no accidental zeros.
    */
  def sprand(n: Int, density: Double, seed: Long): Map[(Long, Long), Double] = {
    val rnd = new scala.util.Random(seed)
    (for {
      i <- 0 until n; j <- 0 until n
      if rnd.nextDouble() < density
    } yield (i.toLong, j.toLong) -> (1.0 + rnd.nextInt(90) / 10.0)).toMap
  }

  // --- fixtures (FIXTURES.md §4) --------------------------------------------

  /** Kepner-Gilbert book-cover digraph: 7 vertices, 12 edges (the shape of
    * the reference's Demo/Matrix/cover.mtx; the graph is the standard example
    * from the GraphBLAS literature).
    */
  val cover: Set[(Long, Long)] = Set(
    (0L, 1L), (0L, 3L), (1L, 4L), (1L, 6L), (2L, 5L), (3L, 0L), (3L, 2L),
    (4L, 5L), (5L, 2L), (6L, 2L), (6L, 3L), (6L, 4L))

  /** Two disjoint 2-cliques (shape of Demo/Matrix/2blocks): CC fixture. */
  val twoBlocks: Set[(Long, Long)] = Set((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L))

  /** Hub-skew fixture: vertex 0 holds half of all edges (FIXTURES.md). */
  def hubSkew(nEdges: Int, seed: Long = 11L): Set[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val hub = (0 until nEdges / 2).map(i => (0L, (i % 97 + 1).toLong))
    val rest = (0 until nEdges / 2).map(_ =>
      (rnd.nextInt(200).toLong + 1, rnd.nextInt(200).toLong + 1))
    (hub ++ rest).filter(e => e._1 != e._2).toSet
  }

  def edgesDF(es: Set[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toSeq.map { case (s, d) => (s, d, 1.0) }.toDF("src", "dst", "w")
  }
}
