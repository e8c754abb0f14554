package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ref.DenseMimic

/** End-to-end algorithm tests vs the dense mimic on the FIXTURES.md graphs:
  * cover (Kepner-Gilbert digraph), twoBlocks (CC), seeded sprand digraphs
  * (ibm32/west67-shaped), hubSkew (salting), hugeIdx (2^59 ids).
  */
class AlgoSpec extends SparkTestBase {

  /** Seeded random digraph with n vertices and ~m edges, no self-loops;
    * includes sink vertices (the ibm32a shape that exercises
    * pagerank.m:97-104's sink handling).
    */
  def randGraph(n: Int, m: Int, seed: Long): Set[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).toSet
  }

  // --- PageRank --------------------------------------------------------------

  test("PageRank fixed-iteration math identical to the mimic (cover + random)") {
    for (es <- Seq(cover, randGraph(32, 123, 9L), randGraph(67, 299, 10L))) {
      val got = dfToVec(PageRank.run(spark, edgesDF(es), tol = 0.0, maxIter = 12).ranks
        .withColumnRenamed("r", "v"))
      val (want, _) = DenseMimic.pagerank(es, tol = 0.0, maxIter = 12)
      assertVecEq(got, want, tol = 1e-12, ctx = "pagerank12")
    }
  }

  test("PageRank converges to 1e-6 and matches the mimic allclose 1e-6") {
    val es = randGraph(50, 300, 12L)
    val res = PageRank.run(spark, edgesDF(es), tol = 1e-6, maxIter = 100)
    val (want, wantIters) = DenseMimic.pagerank(es, tol = 1e-6, maxIter = 100)
    val got = dfToVec(res.ranks.withColumnRenamed("r", "v"))
    assertVecEq(got, want, tol = 1e-6, ctx = "pagerank-conv")
    assert(res.iterations == wantIters, s"iteration count ${res.iterations} vs mimic $wantIters")
    assert(res.finalDelta < 1e-6)
    assert(res.metrics.nonEmpty && res.metrics.last.iter == res.iterations)
    // probability mass conserved (sink handling, pagerank.m:130-136)
    val mass = got.values.sum
    assert(math.abs(mass - 1.0) < 1e-9, s"rank mass $mass != 1")
  }

  test("PageRank handles a pure-sink graph (every edge into sinks)") {
    val es: Set[(Long, Long)] = Set((0L, 3L), (1L, 3L), (2L, 4L))
    val got = dfToVec(PageRank.run(spark, edgesDF(es), tol = 1e-8, maxIter = 100).ranks
      .withColumnRenamed("r", "v"))
    val (want, _) = DenseMimic.pagerank(es, tol = 1e-8, maxIter = 100)
    assertVecEq(got, want, tol = 1e-6)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("PageRank on the hubSkew fixture (salting-shaped input) stays exact") {
    val es = hubSkew(2000)
    val got = dfToVec(PageRank.run(spark, edgesDF(es), tol = 0.0, maxIter = 8).ranks
      .withColumnRenamed("r", "v"))
    val (want, _) = DenseMimic.pagerank(es, tol = 0.0, maxIter = 8)
    assertVecEq(got, want, tol = 1e-12, ctx = "pagerank-skew")
  }

  // --- Connected components --------------------------------------------------

  test("CC: twoBlocks has exactly two components, exact labels") {
    val got = CheckpointedCollect.labels(ConnectedComponents.run(spark, edgesDF(twoBlocks)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L))
  }

  test("CC matches the mimic exactly on random + huge-id graphs") {
    val base = 1L << 59
    val graphs = Seq(randGraph(60, 150, 13L), randGraph(40, 45, 14L),
      Set((base, base + 1), (base + 2, base + 3), (base + 3, base + 4)))
    for (es <- graphs) {
      val got = CheckpointedCollect.labels(ConnectedComponents.run(spark, edgesDF(es)))
      assert(got == DenseMimic.components(es), s"CC mismatch on ${es.size}-edge graph")
    }
  }

  // --- Triangle counting / k-truss -------------------------------------------

  test("triangle count exact: K4, cover, random (with and without degree ordering)") {
    val k4 = (for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)).toSet
    assert(TriangleCount.run(spark, edgesDF(k4)) == 4L)
    assert(TriangleCount.run(spark, edgesDF(k4), degreeOrder = true) == 4L)
    for (es <- Seq(cover, randGraph(30, 200, 15L), hubSkew(1000))) {
      val want = DenseMimic.triangles(es)
      assert(TriangleCount.run(spark, edgesDF(es)) == want, "tricount")
      assert(TriangleCount.run(spark, edgesDF(es), degreeOrder = true) == want, "tricount ordered")
      // IntegerType ids: the packed (a << 32) + c key must be built in long
      assert(TriangleCount.run(spark, intIds(edgesDF(es))) == want, "tricount int ids")
    }
  }

  /** The same edges with IntegerType src/dst columns. */
  def intIds(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("int").as("src"), col("dst").cast("int").as("dst"), col("w"))

  test("edgeSupport: every K4 edge closes 2 triangles") {
    import spark.implicits._
    val canon = (for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j))
      .toSeq.toDF("lo", "hi")
    val sup = TriangleCount.edgeSupport(canon).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup.size == 6 && sup.values.forall(_ == 2L))
    // IntegerType ids, also on a sparse graph, where a collapsed packed key
    // would close wedges that are not triangles
    val sparse = randGraph(30, 120, 15L).toSeq
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct.toDF("lo", "hi")
    for (c <- Seq(canon, sparse)) {
      val want = TriangleCount.edgeSupport(c).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val got = TriangleCount.edgeSupport(
          c.selectExpr("CAST(lo AS INT) AS lo", "CAST(hi AS INT) AS hi")).collect()
        .map(r => (r.getInt(0).toLong, r.getInt(1).toLong) -> r.getLong(2)).toMap
      assert(got == want, "edgeSupport int ids")
    }
  }

  test("k-truss: 3-truss of K4 + pendant edge = K4 alone; 5-truss empty") {
    import spark.implicits._
    val k4 = (for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)).toSet
    val es = k4 + ((3L, 9L))
    val t3 = KTruss.run(spark, edgesDF(es.map(e => (e._1, e._2))), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t3 == k4)
    assert(KTruss.run(spark, edgesDF(es), k = 5).count() == 0L)
    for (g <- Seq(es, randGraph(30, 200, 15L))) {
      val want = KTruss.run(spark, edgesDF(g), k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = KTruss.run(spark, intIds(edgesDF(g)), k = 3)
        .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toSet
      assert(got == want, "k-truss int ids")
    }
  }

  // --- BFS / SSSP ------------------------------------------------------------

  test("BFS levels match the mimic on the directed cover graph") {
    val got = BFS.run(spark, edgesDF(cover), source = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == DenseMimic.bfsLevels(cover, 0L))
  }

  test("BFS parents are valid: parent is one level up and an in-neighbor") {
    val es = randGraph(40, 120, 16L)
    val rows = BFS.run(spark, edgesDF(es), source = es.head._1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val levels = rows.map(r => r._1 -> r._2).toMap
    for ((id, lvl, parent) <- rows if lvl > 0) {
      assert(levels(parent) == lvl - 1, s"parent level of $id")
      assert(es.contains((parent, id)), s"$parent -> $id must be an edge")
    }
  }

  test("SSSP matches Dijkstra on weighted random graphs") {
    val rnd = new scala.util.Random(17L)
    val es = randGraph(40, 160, 18L).map { case (s, d) => (s, d, 1.0 + rnd.nextInt(9)) }
    import spark.implicits._
    val df = es.toSeq.toDF("src", "dst", "w")
    val src = es.head._1
    val got = dfToVec(SSSP.run(spark, df, src).withColumnRenamed("dist", "v"))
    assertVecEq(got, DenseMimic.sssp(es, src), tol = 1e-9, ctx = "sssp")
  }

  // --- Label propagation / MIS -----------------------------------------------

  test("label propagation matches the mimic exactly (sync, min tie-break)") {
    for (es <- Seq(twoBlocks.map(e => (e._1, e._2)), randGraph(40, 100, 19L), cover)) {
      val got = CheckpointedCollect.labels(
        LabelPropagation.run(spark, edgesDF(es), maxIter = 20))
      assert(got == DenseMimic.labelProp(es, maxIter = 20), "labelProp")
    }
  }

  test("label propagation takes the minimum id as a label without overflow") {
    import spark.implicits._
    // 5's neighbours are the minimum id and 7: a tie, won by the minimum
    val longs = Seq((Long.MinValue, 5L), (7L, 5L)).toDF("src", "dst")
    val ints = Seq((Int.MinValue, 5), (7, 5)).toDF("src", "dst")
    for ((edges, min) <- Seq(longs -> Long.MinValue, ints -> Int.MinValue.toLong)) {
      val got = LabelPropagation.runFixed(spark, edges, k = 1).collect()
        .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
      assert(got(5L) == min, s"got $got")
    }
  }

  test("BellmanFord: negative edges vs brute replica; fixpoint; cycle flag") {
    import spark.implicits._
    // signed weights via potentials (telescoping => no negative cycle)
    def w(u: Long, v: Long): Long = (3 * u + 5 * v) % 7 + 13 * u % 17 - 13 * v % 17
    val es = randGraph(30, 120, 21L).map { case (u, v) => (u, v, w(u, v)) }
    assert(es.exists(_._3 < 0), "fixture must contain negative edges")
    val df = es.toSeq.toDF("src", "dst", "w")
    val src = es.head._1

    // brute synchronous replica, k rounds
    def brute(k: Int): Map[Long, Long] = {
      var d = Map(src -> 0L)
      for (_ <- 1 to k) {
        val relaxed = es.toSeq.flatMap { case (u, v, wt) => d.get(u).map(x => v -> (x + wt)) }
        d = (d.toSeq ++ relaxed).groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).min }
      }
      d
    }
    def collect(r: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(collect(BellmanFord.runFixed(spark, df, src, k = 4)) == brute(4))

    // fixpoint run: matches the |V|-round brute table, no negative cycle
    val (fix, neg) = BellmanFord.run(spark, df, src)
    assert(!neg && collect(fix) == brute(30))

    // planted negative cycle is detected
    val cyc = (es.toSeq ++ Seq((900L, 901L, -5L), (901L, 900L, 2L),
      (src, 900L, 1L))).toDF("src", "dst", "w")
    assert(BellmanFord.run(spark, cyc, src)._2, "negative cycle undetected")
  }

  test("MIS is independent and maximal") {
    for (es <- Seq(cover, randGraph(50, 200, 20L), hubSkew(500))) {
      val rows = MIS.run(spark, edgesDF(es)).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val und = (es ++ es.map(e => (e._2, e._1))).filter(e => e._1 != e._2)
      val inSet = rows.filter(_._2).keySet
      for ((a, b) <- und) assert(!(inSet(a) && inSet(b)), s"adjacent $a,$b both in MIS")
      for ((v, in) <- rows if !in)
        assert(und.exists(e => e._1 == v && inSet(e._2)), s"$v has no MIS neighbor: not maximal")
    }
  }
}

/** Collect helpers for (id, labelish) frames. */
object CheckpointedCollect {
  def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
}
