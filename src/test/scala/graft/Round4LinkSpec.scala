package graft

import org.apache.spark.sql.functions._
import graft.algos.{ClusteringCoefficient, GraphStats, HITS, KCore, LinkPrediction, PageRank, RandomWalk}

/** Round-4 link-analysis batch: LCC, link prediction, k-core/coreness,
  * HITS, personalized PageRank, deterministic random walks, graph stats —
  * each differential-tested against an in-memory brute-force reference on
  * seeded random graphs.
  */
class Round4LinkSpec extends SparkTestBase {
  import scala.collection.mutable

  /** Seeded Erdős–Rényi-ish undirected graph as canonical lo<hi pairs. */
  private def randGraph(n: Int, p: Double, seed: Long): Set[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (for { a <- 0 until n; b <- a + 1 until n if rnd.nextDouble() < p }
      yield (a.toLong, b.toLong)).toSet
  }

  private def toEdgeDf(es: Set[(Long, Long)]) = {
    import spark.implicits._
    es.toSeq.toDF("src", "dst").withColumn("w", lit(1.0))
  }

  private def adjOf(es: Set[(Long, Long)]): Map[Long, Set[Long]] = {
    val m = mutable.Map[Long, mutable.Set[Long]]()
    es.foreach { case (a, b) =>
      m.getOrElseUpdate(a, mutable.Set()) += b
      m.getOrElseUpdate(b, mutable.Set()) += a
    }
    m.map { case (k, v) => k -> v.toSet }.toMap
  }

  test("ClusteringCoefficient matches brute force on a seeded random graph") {
    val es = randGraph(40, 0.15, 11L)
    val adj = adjOf(es)
    val got = ClusteringCoefficient.run(spark, toEdgeDf(es)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == adj.keySet)
    adj.foreach { case (v, nb) =>
      val deg = nb.size
      val tri = nb.toSeq.combinations(2).count { case Seq(x, y) => adj(x).contains(y) }
      val lcc = if (deg >= 2) 2.0 * tri / (deg.toDouble * (deg - 1)) else 0.0
      val (gd, gt, gl) = got(v)
      assert(gd == deg && gt == tri && math.abs(gl - lcc) < 1e-12,
        s"v=$v got=${got(v)} want=($deg,$tri,$lcc)")
    }
  }

  test("LinkPrediction matches brute force; maxDegree drops only wedge centers") {
    val es = randGraph(35, 0.12, 23L)
    val adj = adjOf(es)
    val want = (for {
      a <- adj.keySet.toSeq; b <- adj.keySet.toSeq
      if a < b && !es.contains((a, b))
      common = adj(a) & adj(b) if common.nonEmpty
    } yield (a, b) -> ((common.size.toLong,
      common.size.toDouble / (adj(a).size + adj(b).size - common.size),
      common.toSeq.map(z => 1.0 / math.log(adj(z).size.toDouble)).sum))).toMap
    val got = LinkPrediction.run(spark, toEdgeDf(es)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == want.keySet, s"pair sets differ: ${got.keySet.size} vs ${want.keySet.size}")
    want.foreach { case (k, (c, j, aa)) =>
      val (gc, gj, gaa) = got(k)
      assert(gc == c && math.abs(gj - j) < 1e-12 && math.abs(gaa - aa) < 1e-10,
        s"pair $k got=${got(k)} want=($c,$j,$aa)")
    }
    // capped: centers above maxDegree contribute no wedges
    val cap = 4L
    val gotCap = LinkPrediction.run(spark, toEdgeDf(es), maxDegree = cap).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val wantCap = (for {
      a <- adj.keySet.toSeq; b <- adj.keySet.toSeq
      if a < b && !es.contains((a, b))
      common = (adj(a) & adj(b)).filter(z => adj(z).size <= cap) if common.nonEmpty
    } yield (a, b) -> common.size.toLong).toMap
    assert(gotCap == wantCap)
  }

  test("KCore.run matches brute-force peel, incl. a cascading chain fixture") {
    // clique {0..4} + chain 4-5-6-7: chain peels in cascade at k=2
    val clique = (for { a <- 0 until 5; b <- a + 1 until 5 } yield (a.toLong, b.toLong)).toSet
    val chain = Set((4L, 5L), (5L, 6L), (6L, 7L))
    def brutePeel(es: Set[(Long, Long)], k: Int): Map[Long, Int] = {
      var cur = es
      var stable = false
      while (!stable) {
        val deg = mutable.Map[Long, Int]().withDefaultValue(0)
        cur.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
        val next = cur.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
        stable = next == cur
        cur = next
      }
      val deg = mutable.Map[Long, Int]().withDefaultValue(0)
      cur.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
      deg.toMap
    }
    for ((es, k) <- Seq((clique ++ chain, 2), (clique ++ chain, 4),
                        (randGraph(40, 0.1, 7L), 3))) {
      val want = brutePeel(es, k).filter(_._2 >= k)
      val got = KCore.run(spark, toEdgeDf(es), k).collect()
        .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(got == want, s"k=$k got=$got want=$want")
    }
  }

  test("KCore.coreness matches brute force") {
    val es = randGraph(40, 0.12, 31L)
    def bruteCoreness(es0: Set[(Long, Long)]): Map[Long, Int] = {
      var es = es0; var k = 1
      val core = mutable.Map[Long, Int]()
      var alive = es.flatMap(e => Seq(e._1, e._2))
      alive.foreach(v => core(v) = 0)
      while (es.nonEmpty) {
        var stable = false
        while (!stable) {
          val deg = mutable.Map[Long, Int]().withDefaultValue(0)
          es.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
          val next = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
          stable = next == es
          es = next
        }
        val surv = es.flatMap(e => Seq(e._1, e._2))
        (alive -- surv).foreach(v => core(v) = k - 1)
        alive = surv
        k += 1
      }
      alive.foreach(v => core(v) = k - 1)
      core.toMap
    }
    val want = bruteCoreness(es)
    val got = KCore.coreness(spark, toEdgeDf(es)).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == want, s"got=$got want=$want")
  }

  test("HITS: L1 sums are 1 and values match brute-force power iteration") {
    import spark.implicits._
    val rnd = new scala.util.Random(5L)
    val es = (for { a <- 0 until 20; b <- 0 until 20
                    if a != b && rnd.nextDouble() < 0.1 }
      yield (a.toLong, b.toLong)).distinct
    val df = es.toDF("src", "dst").withColumn("w", lit(1.0))
    val verts = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = verts.size
    var h = verts.map(_ -> 1.0 / n).toMap
    var a = verts.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val ar = mutable.Map[Long, Double]().withDefaultValue(0.0)
      es.foreach { case (s, d) => ar(d) += h(s) }
      val at = ar.values.sum
      a = verts.map(v => v -> ar(v) / at).toMap
      val hr = mutable.Map[Long, Double]().withDefaultValue(0.0)
      es.foreach { case (s, d) => hr(s) += a(d) }
      val ht = hr.values.sum
      h = verts.map(v => v -> hr(v) / ht).toMap
    }
    val got = HITS.runFixed(spark, df, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.keySet == verts.toSet)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9, "hub L1 sum")
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9, "auth L1 sum")
    verts.foreach { v =>
      assert(math.abs(got(v)._1 - h(v)) < 1e-10 && math.abs(got(v)._2 - a(v)) < 1e-10,
        s"v=$v got=${got(v)} want=(${h(v)},${a(v)})")
    }
  }

  test("personalized PageRank: mass 1, zero off-reachable, all-seeds == uniform") {
    import spark.implicits._
    // two components: 0->1->2 and 10->11; seeds in the first only
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 10L))
      .toDF("src", "dst").withColumn("w", lit(1.0))
    val ppr = PageRank.runFixed(spark, es, k = 20, seeds = Seq(0L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ppr.values.sum - 1.0) < 1e-9, s"mass ${ppr.values.sum}")
    assert(ppr(10L) == 0.0 && ppr(11L) == 0.0, "unreachable component must stay 0")
    assert(ppr(0L) > ppr(2L), "seed outranks its far neighbor")
    // seeds = ALL vertices reduces exactly to uniform PageRank
    val all = Seq(0L, 1L, 2L, 10L, 11L)
    val a = PageRank.runFixed(spark, es, k = 5, seeds = all)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val u = PageRank.runFixed(spark, es, k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    all.foreach(v => assert(math.abs(a(v) - u(v)) < 1e-12, s"v=$v ${a(v)} vs ${u(v)}"))
  }

  test("RandomWalk: edges real, walks continuous, partitioning-independent") {
    val es = randGraph(30, 0.15, 13L)
    val adj = adjOf(es)
    import spark.implicits._
    val starts = adj.keySet.toSeq.sorted.take(5).toDF("id")
    def runWith(parts: Int) =
      RandomWalk.run(spark, toEdgeDf(es).repartition(parts), starts, steps = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w1 = runWith(2)
    val w2 = runWith(7)
    assert(w1 == w2, "walks must be partitioning-independent")
    w1.foreach { case ((walk, step), v) =>
      if (step > 0) {
        val prev = w1((walk, step - 1))
        assert(adj(prev).contains(v), s"hop $prev->$v (walk $walk step $step) is not an edge")
      } else assert(v == walk, "step 0 is the start vertex")
    }
    // replays the documented slot formula exactly
    w1.foreach { case ((walk, step), v) =>
      if (step > 0) {
        val prev = w1((walk, step - 1))
        val nbrs = adj(prev).toSeq.sorted
        val slot = ((walk * 48271L + step * 11213L + prev * 7919L) % nbrs.size).toInt
        assert(v == nbrs(slot), s"slot mismatch walk=$walk step=$step")
      }
    }
  }

  test("GraphStats matches closed-form on a clique plus isolated edge") {
    import spark.implicits._
    // K5 + disjoint edge: n=7, m=11, wedges=5*C(4,2)+2*0... degrees: K5 all 4, edge both 1
    val k5 = for { a <- 0 until 5; b <- a + 1 until 5 } yield (a.toLong, b.toLong)
    val es = (k5 :+ (10L, 11L)).toDF("src", "dst").withColumn("w", lit(1.0))
    val r = GraphStats.run(spark, es).collect()(0)
    assert(r.getAs[Long]("n") == 7L)
    assert(r.getAs[Long]("m") == 11L)
    assert(r.getAs[Long]("min_deg") == 1L && r.getAs[Long]("max_deg") == 4L)
    assert(r.getAs[Long]("wedges") == 5 * 6L) // 5 vertices with C(4,2)=6
    assert(r.getAs[Long]("triangles") == 10L) // C(5,3)
    assert(math.abs(r.getAs[Double]("global_cc") - 1.0) < 1e-12) // K5 part closes all wedges
  }

  /** Brute-force SCC labels (min member id) via transitive closure. */
  private def bruteScc(es: Set[(Long, Long)]): Map[Long, Long] = {
    val verts = es.flatMap(e => Seq(e._1, e._2))
    var reach = es
    var grown = true
    while (grown) {
      val more = for { (a, b) <- reach; (b2, c) <- reach if b == b2 } yield (a, c)
      val next = reach ++ more
      grown = next.size != reach.size
      reach = next
    }
    verts.map { v =>
      val mutual = verts.filter(u => reach((v, u)) && reach((u, v))) + v
      v -> mutual.min
    }.toMap
  }

  private def toDirDf(es: Set[(Long, Long)]) = {
    import spark.implicits._
    es.toSeq.toDF("src", "dst")
  }

  test("SCC: two cycles joined one-way, plus a tendril — exact labels") {
    // cycle A {0,1,2} -> cycle B {10,11,12} -> tendril 20 -> 21 (all DAG edges)
    val es = Set[(Long, Long)]((0L, 1L), (1L, 2L), (2L, 0L),
      (2L, 10L), (10L, 11L), (11L, 12L), (12L, 10L),
      (12L, 20L), (20L, 21L))
    val got = graft.algos.SCC.run(spark, toDirDf(es)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == bruteScc(es))
    assert(got(0L) == 0L && got(1L) == 0L && got(2L) == 0L)
    assert(got(10L) == 10L && got(12L) == 10L)
    assert(got(20L) == 20L && got(21L) == 21L) // tendril = singletons (trim path)
  }

  test("SCC: pure DAG chain trims away entirely; descending-id cycle chain converges") {
    // descending ids force the worst case for max-coloring (one pivot/round)
    val chain = (0 until 12).map(i => (100L - i, 100L - i - 1)).toSet[(Long, Long)]
    val gotChain = graft.algos.SCC.run(spark, toDirDf(chain)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotChain.forall { case (v, c) => v == c }, "DAG = all singletons")

    // three 3-cycles linked head-to-tail with DESCENDING max ids
    val cyc = (base: Long) => Set((base, base + 1), (base + 1, base + 2), (base + 2, base))
    val es = cyc(30L) ++ cyc(20L) ++ cyc(10L) + ((32L, 20L)) + ((22L, 10L))
    val (got, rounds) = graft.algos.SCC.runCounted(spark, toDirDf(es))
    val gm = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gm == bruteScc(es), s"scc labels wrong: $gm")
    assert(rounds <= 10, s"outer rounds $rounds unexpectedly high for 3 SCC layers")
  }

  test("SCC matches brute force on a seeded random directed graph at any parallelism") {
    val rnd = new scala.util.Random(77L)
    val es = (for { a <- 0 until 30; b <- 0 until 30
                    if a != b && rnd.nextDouble() < 0.08 }
      yield (a.toLong, b.toLong)).toSet
    val want = bruteScc(es)
    def runWith(parts: Int) = graft.algos.SCC.run(spark, toDirDf(es).repartition(parts))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(runWith(3) == want)
    assert(runWith(8) == want, "labels must be partitioning-independent")
  }

  test("modularity matches hand computation on two triangles + bridge") {
    import spark.implicits._
    // triangles {0,1,2} and {10,11,12}, bridge 2-10; labels = triangle id
    val es = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L),
      (2L, 10L)).toDF("src", "dst").withColumn("w", lit(1.0))
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (10L, 1L), (11L, 1L), (12L, 1L))
      .toDF("id", "label")
    val r = GraphStats.modularity(spark, es, labels).collect()(0)
    // m=7, intra=6, D_a=D_b=7: Q = 6/7 - (49+49)/(4*49) = 6/7 - 1/2
    assert(r.getAs[Long]("m") == 7L)
    assert(r.getAs[Long]("communities") == 2L)
    assert(r.getAs[Long]("intra_edges") == 6L)
    assert(math.abs(r.getAs[Double]("modularity") - (6.0 / 7.0 - 0.5)) < 1e-12)
    // perfect split of two disjoint triangles: Q = 1/2 exactly
    val es2 = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("src", "dst").withColumn("w", lit(1.0))
    val r2 = GraphStats.modularity(spark, es2, labels).collect()(0)
    assert(math.abs(r2.getAs[Double]("modularity") - 0.5) < 1e-12)
  }

  test("assortativity: star is exactly -1; regular clique has zero variance (NaN)") {
    import spark.implicits._
    val star = (1 to 5).map(i => (0L, i.toLong)).toDF("src", "dst")
      .withColumn("w", lit(1.0))
    val r = GraphStats.assortativity(spark, star).collect()(0)
    assert(r.getAs[Long]("pairs") == 10L)
    assert(math.abs(r.getAs[Double]("assortativity") - (-1.0)) < 1e-12)

    val k4 = (for { a <- 0 until 4; b <- a + 1 until 4 } yield (a.toLong, b.toLong))
      .toDF("src", "dst").withColumn("w", lit(1.0))
    val r2 = GraphStats.assortativity(spark, k4).collect()(0)
    assert(r2.getAs[Double]("assortativity").isNaN, "regular graph: 0/0 by definition")
  }

  test("assortativity matches brute-force Pearson on a seeded random graph") {
    val es = randGraph(40, 0.1, 31L)
    val adj = adjOf(es)
    val xs = es.toSeq.flatMap { case (a, b) =>
      Seq((adj(a).size.toDouble, adj(b).size.toDouble),
        (adj(b).size.toDouble, adj(a).size.toDouble))
    }
    val n = xs.size.toDouble
    val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
    val sxy = xs.map(p => p._1 * p._2).sum
    val sxx = xs.map(p => p._1 * p._1).sum; val syy = xs.map(p => p._2 * p._2).sum
    val want = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val r = GraphStats.assortativity(spark, toEdgeDf(es)).collect()(0)
    assert(r.getAs[Long]("pairs") == 2L * es.size)
    assert(math.abs(r.getAs[Double]("assortativity") - want) < 1e-9)
  }

  /** Brute single-source hop counts over a DIRECTED edge set. */
  private def bruteBfs(es: Set[(Long, Long)], s0: Long): Map[Long, Long] = {
    val out = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = mutable.Map(s0 -> 0L)
    var frontier = Set(s0)
    var lvl = 0L
    while (frontier.nonEmpty) {
      lvl += 1
      val next = frontier.flatMap(v => out.getOrElse(v, Set()))
        .filterNot(dist.contains)
      next.foreach(dist(_) = lvl)
      frontier = next
    }
    dist.toMap
  }

  test("MSBFS matches per-source brute BFS on a seeded directed graph (incl >64 sources)") {
    val rnd = new scala.util.Random(5L)
    val es = (for { a <- 0 until 70; b <- 0 until 70
                    if a != b && rnd.nextDouble() < 0.04 }
      yield (a.toLong, b.toLong)).toSet
    import spark.implicits._
    val df = es.toSeq.toDF("src", "dst")
    val sources = (0L until 70L).filter(v => es.exists(e => e._1 == v || e._2 == v))
    val got = graft.algos.MSBFS.run(spark, df, sources) // 2 waves of <=64
      .collect().map(r => (r.getLong(1), r.getLong(0)) -> r.getLong(2)).toMap
    val want = sources.flatMap(s => bruteBfs(es, s).map { case (v, d) => (s, v) -> d }).toMap
    assert(got == want, s"msbfs mismatch: extra=${(got.keySet -- want.keySet).take(5)} " +
      s"missing=${(want.keySet -- got.keySet).take(5)}")
  }

  test("MSBFS: one wave is exact on a diamond + unreachable island") {
    import spark.implicits._
    // 0->1, 0->2, 1->3, 2->3, 3->4; island 9->10
    val es = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (9L, 10L))
    val got = graft.algos.MSBFS.run(spark, es.toDF("src", "dst"), Seq(0L, 9L))
      .collect().map(r => (r.getLong(1), r.getLong(0)) -> r.getLong(2)).toMap
    assert(got == Map(
      (0L, 0L) -> 0L, (0L, 1L) -> 1L, (0L, 2L) -> 1L, (0L, 3L) -> 2L, (0L, 4L) -> 3L,
      (9L, 9L) -> 0L, (9L, 10L) -> 1L))
  }

  test("distanceStats matches brute harmonic/closeness/eccentricity") {
    val es = randGraph(40, 0.08, 13L) // sparse enough to be disconnected-ish
    val adj = adjOf(es)
    val verts = adj.keySet.toSeq.sorted
    // brute all-pairs hop counts over the undirected graph
    def bfsU(s0: Long): Map[Long, Long] = {
      val dist = mutable.Map(s0 -> 0L)
      var frontier = Set(s0)
      var lvl = 0L
      while (frontier.nonEmpty) {
        lvl += 1
        val next = frontier.flatMap(adj(_)).filterNot(dist.contains)
        next.foreach(dist(_) = lvl)
        frontier = next
      }
      dist.toMap
    }
    val all = verts.map(v => v -> bfsU(v)).toMap
    val got = GraphStats.distanceStats(spark, toEdgeDf(es), verts).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == adj.keySet)
    verts.foreach { v =>
      val ds = all(v).filter(_._1 != v).values.toSeq
      val r = got(v)
      assert(r.getAs[Long]("reached") == ds.size)
      assert(r.getAs[Long]("sum_dist") == ds.sum)
      assert(math.abs(r.getAs[Double]("harmonic") - ds.map(1.0 / _).sum) < 1e-9, s"v=$v")
      val want_cl = if (ds.nonEmpty) ds.size.toDouble / ds.sum else 0.0
      assert(math.abs(r.getAs[Double]("closeness") - want_cl) < 1e-9)
      assert(r.getAs[Long]("ecc") == (if (ds.isEmpty) 0L else ds.max))
    }
  }

  private def pri(v: Long): Long = (v * 48271L + 11213L) % 1000000007L

  /** Brute Jones-Plassmann with the engine's LCG priorities. */
  private def bruteColoring(es: Set[(Long, Long)]): Map[Long, Long] = {
    val adj = adjOf(es)
    val color = mutable.Map[Long, Long]()
    var uncolored = adj.keySet
    while (uncolored.nonEmpty) {
      val sel = uncolored.filter(v =>
        (adj(v) & uncolored).forall(u => pri(v) > pri(u)))
      sel.foreach { v =>
        val used = adj(v).flatMap(color.get)
        color(v) = Iterator.from(0).map(_.toLong).find(!used.contains(_)).get
      }
      uncolored --= sel
    }
    color.toMap
  }

  test("Coloring matches brute Jones-Plassmann; proper; partitioning-independent") {
    val es = randGraph(45, 0.12, 41L)
    val adj = adjOf(es)
    val want = bruteColoring(es)
    val got = graft.algos.Coloring.run(spark, toEdgeDf(es)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    es.foreach { case (a, b) => assert(got(a) != got(b), s"edge $a-$b same color") }
    assert(got.values.max <= adj.values.map(_.size).max.toLong, "> maxdeg+1 colors")
    val got8 = graft.algos.Coloring.run(spark, toEdgeDf(es).repartition(8)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got8 == want, "coloring must be partitioning-independent")
  }

  private def matchPri(a: Long, b: Long): Long =
    ((((a * 2000003L + b) * 48271L) % 1000000007L) % 1048576L) * 4398046511104L +
      a * 2097152L + b

  /** Brute Luby maximal matching with the engine's packed priorities. */
  private def bruteMatching(es: Set[(Long, Long)]): Set[(Long, Long)] = {
    var cand = es
    val out = mutable.Set[(Long, Long)]()
    while (cand.nonEmpty) {
      val vmax = mutable.Map[Long, Long]()
      cand.foreach { case (a, b) =>
        val q = matchPri(a, b)
        vmax(a) = math.max(vmax.getOrElse(a, Long.MinValue), q)
        vmax(b) = math.max(vmax.getOrElse(b, Long.MinValue), q)
      }
      val sel = cand.filter { case (a, b) =>
        val q = matchPri(a, b); q == vmax(a) && q == vmax(b)
      }
      out ++= sel
      val mv = out.flatMap(e => Seq(e._1, e._2))
      cand = cand.filterNot(e => mv(e._1) || mv(e._2))
    }
    out.toSet
  }

  test("Matching matches brute Luby; is a maximal matching; partitioning-independent") {
    val es = randGraph(45, 0.1, 53L)
    val want = bruteMatching(es)
    val got = graft.algos.Matching.run(spark, toEdgeDf(es)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // matching: no two edges share a vertex
    val mv = got.toSeq.flatMap(e => Seq(e._1, e._2))
    assert(mv.distinct.size == mv.size, "shared vertex in matching")
    // maximal: every input edge touches a matched vertex
    val mvs = mv.toSet
    es.foreach { case (a, b) =>
      assert(mvs(a) || mvs(b), s"edge $a-$b unmatched and addable") }
    val got8 = graft.algos.Matching.run(spark, toEdgeDf(es).repartition(8)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got8 == want, "matching must be partitioning-independent")
  }

  test("ANF: deterministic, monotone, tracks exact N(h), eff-diameter within 1") {
    // two communities bridged by one edge: non-trivial distance spectrum
    val esA = randGraph(30, 0.15, 61L)
    val esB = randGraph(30, 0.15, 67L).map { case (a, b) => (a + 100L, b + 100L) }
    val es = esA ++ esB + ((5L, 105L))
    val adj = adjOf(es)
    // exact neighborhood function over the undirected view
    def ballSizes(v: Long): Map[Long, Long] = {
      val dist = mutable.Map(v -> 0L); var frontier = Set(v); var lvl = 0L
      while (frontier.nonEmpty) {
        lvl += 1
        val next = frontier.flatMap(adj(_)).filterNot(dist.contains)
        next.foreach(dist(_) = lvl); frontier = next
      }
      dist.toMap.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    }
    val perV = adj.keySet.toSeq.map(ballSizes)
    val maxD = perV.map(_.keys.max).max
    val exactN = (0L to maxD).map(h =>
      perV.map(_.filter(_._1 <= h).values.sum).sum.toDouble)
    val effExact = exactN.indexWhere(_ >= 0.9 * exactN.last)

    import spark.implicits._
    val und = es.toSeq.toDF("src", "dst")
    val undBoth = und.unionByName(und.select(col("dst").as("src"), col("src").as("dst")))
    val (df, eff) = graft.algos.ANF.runWithDiameter(spark, undBoth, k = 64)
    val series = df.orderBy("h").collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(series.length == maxD + 1, s"series ${series.length} vs diameter $maxD")
    // monotone non-decreasing by construction (sketches grow under OR)
    series.sliding(2).foreach { case Array((_, a), (_, b)) => assert(b >= a - 1e-9) }
    // FM accuracy: small-count bias is real at h=0; from h>=1 balls are big
    // enough for the 0.77 constant to hold within sketch noise
    (1 to maxD.toInt).foreach { h =>
      val rel = math.abs(series(h)._2 - exactN(h)) / exactN(h)
      assert(rel < 0.35, s"h=$h est=${series(h)._2} exact=${exactN(h)} rel=$rel")
    }
    assert(math.abs(eff - effExact) <= 1, s"effDiam $eff vs exact $effExact")
    // determinism at any parallelism (decimal sums -> bit-identical doubles)
    val (df8, eff8) = graft.algos.ANF.runWithDiameter(spark, undBoth.repartition(8), k = 64)
    assert(eff8 == eff)
    assert(df8.orderBy("h").collect().map(r => r.getDouble(1)).toSeq ==
      series.map(_._2).toSeq)
  }

  test("Katz matches brute truncated power series") {
    val es = randGraph(35, 0.12, 71L)
    val adj = adjOf(es)
    var x = adj.keySet.map(_ -> 1.0).toMap
    for (_ <- 1 to 5)
      x = adj.keySet.map(v => v -> (1.0 + 0.0625 * adj(v).toSeq.map(x).sum)).toMap
    val got = graft.algos.Katz.runFixed(spark, toEdgeDf(es), k = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == adj.keySet)
    adj.keySet.foreach(v => assert(math.abs(got(v) - x(v)) < 1e-10, s"v=$v"))
  }

  test("reciprocity: DAG is 0, symmetric digraph is 1, mixed counts exactly") {
    import spark.implicits._
    val dag = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    val r0 = GraphStats.reciprocity(spark, dag).collect()(0)
    assert(r0.getAs[Long]("m") == 3L && r0.getAs[Long]("reciprocal") == 0L)
    // 0<->1 mutual, 2->0 one-way
    val mixed = Seq((0L, 1L), (1L, 0L), (2L, 0L)).toDF("src", "dst")
    val r1 = GraphStats.reciprocity(spark, mixed).collect()(0)
    assert(r1.getAs[Long]("reciprocal") == 2L)
    assert(math.abs(r1.getAs[Double]("reciprocity") - 2.0 / 3.0) < 1e-12)
  }

  test("edgeSimilarity matches brute per-edge neighborhood Jaccard") {
    val es = randGraph(35, 0.15, 83L)
    val adj = adjOf(es)
    val got = graft.algos.LinkPrediction.edgeSimilarity(spark, toEdgeDf(es))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == es)
    es.foreach { case (a, b) =>
      val common = (adj(a) & adj(b)).size.toLong
      val want = common.toDouble / (adj(a).size + adj(b).size - common)
      val (gc, gj) = got((a, b))
      assert(gc == common && math.abs(gj - want) < 1e-12, s"edge ($a,$b)")
    }
  }

  test("Louvain: ring of cliques resolves to the cliques; labels are min ids") {
    import spark.implicits._
    // 4 cliques of 5, ring-linked by single bridges (the classic fixture)
    val cliques = (0 until 4).map { ci =>
      val base = ci * 10L
      (for { a <- 0 until 5; b <- a + 1 until 5 }
        yield (base + a, base + b)).toSet
    }
    val bridges = (0 until 4).map(ci =>
      (ci * 10L + 4, ((ci + 1) % 4) * 10L)).toSet
    val es = cliques.reduce(_ ++ _) ++ bridges
    val df = es.toSeq.toDF("src", "dst")
    val (out, lv) = graft.algos.Louvain.runCounted(spark, df)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 4).foreach { ci =>
      val members = (0 until 5).map(ci * 10L + _)
      val labels = members.map(got).distinct
      assert(labels == Seq(ci * 10L), s"clique $ci labels $labels")
    }
    assert(lv >= 1)
    // modularity of the found partition equals the known optimum for this
    // fixture: per clique 10 intra edges of m=44, total degree 22 of 2m=88
    val labelsDf = out.select(col("id"), col("community").as("label"))
    val q = GraphStats.modularity(spark, df.withColumn("w", lit(1.0)), labelsDf)
      .collect()(0).getAs[Double]("modularity")
    val want = 4.0 * (10.0 / 44.0 - math.pow(22.0 / 88.0, 2))
    assert(math.abs(q - want) < 1e-12, s"Q=$q want=$want")
  }

  test("Louvain: contraction merges hierarchically and beats label-prop trivially") {
    import spark.implicits._
    // 8 triangles chained pairwise: level 1 finds triangles, level 2 can
    // merge adjacent ones if it improves Q — just assert quality + levels
    val tri = (ci: Long) => Set((ci * 3, ci * 3 + 1), (ci * 3 + 1, ci * 3 + 2),
      (ci * 3, ci * 3 + 2))
    val es = (0L until 8L).flatMap(tri).toSet ++
      (0L until 7L).map(ci => (ci * 3 + 2, (ci + 1) * 3)).toSet
    val df = es.toSeq.toDF("src", "dst")
    val (out, _) = graft.algos.Louvain.runCounted(spark, df)
    val labelsDf = out.select(col("id"), col("community").as("label"))
    val q = GraphStats.modularity(spark, df.withColumn("w", lit(1.0)), labelsDf)
      .collect()(0).getAs[Double]("modularity")
    // all-singletons baseline is Q < 0; triangles-as-communities gives
    // Q = 8*(3/31) - sum((7 or 8)/62)^2... just require a strong partition
    assert(q > 0.6, s"Q=$q too weak")
    // determinism across partitionings
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got8 = graft.algos.Louvain.run(spark, df.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got8 == got)
  }

  test("Louvain: disconnected cliques are exact communities with Q=1/2") {
    import spark.implicits._
    val es = (for { a <- 0 until 4; b <- a + 1 until 4 } yield (a.toLong, b.toLong)) ++
      (for { a <- 0 until 4; b <- a + 1 until 4 } yield (100L + a, 100L + b))
    val df = es.toDF("src", "dst")
    val got = graft.algos.Louvain.run(spark, df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 4).map(i => got(i.toLong)).distinct == Seq(0L))
    assert((0 until 4).map(i => got(100L + i)).distinct == Seq(100L))
  }

  test("Louvain: distributed phase produces the same labels as the local finish") {
    import spark.implicits._
    // small enough for the all-distributed run to stay quick: two triangles
    // + bridge + a pendant
    val es = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L),
      (10L, 12L), (2L, 10L), (12L, 20L))
    val df = es.toDF("src", "dst")
    val local = graft.algos.Louvain.run(spark, df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = graft.algos.Louvain.run(spark, df, localThreshold = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == local, s"dist=$dist local=$local")
  }

  test("condensation: bowtie chain gets exact DAG levels; isolated cycle is level 0") {
    import spark.implicits._
    // cycleA{0,1,2} -> cycleB{10,11,12} -> 20 -> 21, plus isolated cycle {30,31}
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (2L, 10L), (10L, 11L), (11L, 12L), (12L, 10L),
      (12L, 20L), (20L, 21L), (30L, 31L), (31L, 30L))
    val got = graft.algos.SCC.condense(spark, es.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 10L -> 1L, 20L -> 2L, 21L -> 3L, 30L -> 0L),
      s"got $got")
    val dag = graft.algos.SCC.condenseEdges(spark, es.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dag == Set((0L, 10L), (10L, 20L), (20L, 21L)))
  }

  test("condense leaves only its output cached") {
    import spark.implicits._
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 10L), (10L, 11L),
      (11L, 10L), (11L, 20L)).toDF("src", "dst")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = graft.algos.SCC.condense(spark, es)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 0L, 10L -> 1L, 20L -> 2L))
    out.unpersist(true)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("Eigenvector matches brute L1-normalized power iteration") {
    val es = randGraph(35, 0.15, 91L)
    val adj = adjOf(es)
    val n = adj.size
    var x = adj.keySet.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val s = adj.keySet.map(v => v -> adj(v).toSeq.map(x).sum).toMap
      val l1 = s.values.sum
      x = s.map { case (v, sv) => v -> sv / l1 }
    }
    val got = graft.algos.Eigenvector.runFixed(spark, toEdgeDf(es), k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == adj.keySet)
    adj.keySet.foreach(v => assert(math.abs(got(v) - x(v)) < 1e-10, s"v=$v"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "L1 normalized")
  }

  test("CoCitation/coupling match brute force; maxDegree caps the wedge center") {
    import spark.implicits._
    val rnd = new scala.util.Random(47L)
    val es = (for { a <- 0 until 30; b <- 0 until 30
                    if a != b && rnd.nextDouble() < 0.12 }
      yield (a.toLong, b.toLong)).toSet
    val df = es.toSeq.toDF("src", "dst")
    def brute(centerOf: ((Long, Long)) => Long, leafOf: ((Long, Long)) => Long) =
      es.groupBy(centerOf).values.flatMap { zs =>
        val leaves = zs.map(leafOf).toSeq.sorted
        for { i <- leaves.indices; j <- i + 1 until leaves.size }
          yield (leaves(i), leaves(j))
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val wantCo = brute(_._1, _._2) // common citer src → dst pairs
    val gotCo = graft.algos.CoCitation.cocitation(spark, df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotCo == wantCo)
    val wantBc = brute(_._2, _._1)
    val gotBc = graft.algos.CoCitation.coupling(spark, df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotBc == wantBc)
    // cap: star 100→{0..5} plus 200→{0,1}; capping at 2 keeps only 200's pair
    val star = ((0 to 5).map(i => (100L, i.toLong)) ++
      Seq((200L, 0L), (200L, 1L))).toDF("src", "dst")
    val capped = graft.algos.CoCitation.cocitation(spark, star, maxDegree = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((0L, 1L) -> 1L))
  }

  test("SALSA matches brute degree-normalized alternating walk") {
    import spark.implicits._
    val rnd = new scala.util.Random(59L)
    val es = ((for { a <- 0 until 30; b <- 0 until 30
                     if a != b && rnd.nextDouble() < 0.10 }
      yield (a.toLong, b.toLong)) :+ ((40L, 0L))).toSet // 40: hub-only vertex
    val verts = es.flatMap(e => Seq(e._1, e._2))
    val outd = es.groupBy(_._1).map { case (k, v) => k -> v.size }
    val ind = es.groupBy(_._2).map { case (k, v) => k -> v.size }
    val n = verts.size
    var h = verts.map(_ -> 1.0 / n).toMap
    var a = verts.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val ar = verts.map(v =>
        v -> es.filter(_._2 == v).toSeq.map(e => h(e._1) / outd(e._1)).sum).toMap
      val as = ar.values.sum
      a = ar.map { case (v, x) => v -> x / as }
      val hr = verts.map(v =>
        v -> es.filter(_._1 == v).toSeq.map(e => a(e._2) / ind(e._2)).sum).toMap
      val hs = hr.values.sum
      h = hr.map { case (v, x) => v -> x / hs }
    }
    val got = graft.algos.SALSA.runFixed(spark, es.toSeq.toDF("src", "dst"), k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.keySet == verts)
    verts.foreach { v =>
      assert(math.abs(got(v)._1 - h(v)) < 1e-12, s"hub v=$v")
      assert(math.abs(got(v)._2 - a(v)) < 1e-12, s"auth v=$v")
    }
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("contract builds the quotient graph exactly") {
    import spark.implicits._
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 1L), (2L, 3L))
      .toDF("src", "dst")
    val m = Seq((0L, 10L), (1L, 10L), (2L, 20L), (3L, 20L)).toDF("id", "grp")
    val got = GraphStats.contract(spark, e, m)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 0→2 and 1→2 both map to 10→20; 3→1 maps to 20→10; 0→1, 2→3 are self-loops
    assert(got == Map((10L, 20L) -> 2L, (20L, 10L) -> 1L))
    val withLoops = GraphStats.contract(spark, e, m, keepSelfLoops = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(withLoops == Map((10L, 20L) -> 2L, (20L, 10L) -> 1L,
      (10L, 10L) -> 1L, (20L, 20L) -> 1L))
  }

  test("degreeHistogram counts exactly on a directed fixture") {
    import spark.implicits._
    // out-degrees: 0->{1,2}, 1->{2}; in-degrees: 1<-{0}, 2<-{0,1}
    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L))
    val got = GraphStats.degreeHistogram(spark, es.toDF("src", "dst"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(("out", 2L) -> 1L, ("out", 1L) -> 1L,
      ("in", 1L) -> 1L, ("in", 2L) -> 1L))
  }

  /** Kruskal under the same strict (w, a, b) total order — the unique MSF
    * Borůvka must reproduce exactly (greedy matroid optimality).
    */
  private def kruskal(canon: Seq[(Long, Long, Double)]): Set[(Long, Long, Double)] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val out = mutable.Set[(Long, Long, Double)]()
    canon.sortBy { case (a, b, w) => (w, a, b) }.foreach { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; out += ((a, b, w)) }
    }
    out.toSet
  }

  private def canonicalize(raw: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] =
    raw.filter { case (u, v, _) => u != v }
      .groupBy { case (u, v, _) => (math.min(u, v), math.max(u, v)) }
      .map { case ((a, b), es) => (a, b, es.map(_._3).min) }.toSeq

  test("Boruvka MSF == Kruskal on a seeded weighted multigraph (parallel edges, loops, 2 components)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    // two islands (0..39 and 100..129), parallel edges and self-loops, small
    // integer weights so weight ties are common and (a,b) breaks them
    def island(ids: Seq[Long], m: Int) = Seq.fill(m) {
      val u = ids(rnd.nextInt(ids.size)); val v = ids(rnd.nextInt(ids.size))
      (u, v, (1 + rnd.nextInt(9)).toDouble)
    }
    val raw = island(0L until 40L, 160) ++ island(100L until 130L, 100)
    val want = kruskal(canonicalize(raw))
    val got = graft.algos.Boruvka.msf(spark, raw.toDF("src", "dst", "w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"diff: extra=${got -- want} missing=${want -- got}")
    // forest law: edges = vertices - components
    val verts = canonicalize(raw).flatMap(e => Seq(e._1, e._2)).toSet
    val roots = { // component count via the test's own union-find
      val p = mutable.Map[Long, Long]()
      def f(x: Long): Long = { val q = p.getOrElseUpdate(x, x); if (q == x) x else { val r = f(q); p(x) = r; r } }
      canonicalize(raw).foreach { case (a, b, _) => val (ra, rb) = (f(a), f(b)); if (ra != rb) p(ra) = rb }
      verts.map(f).size
    }
    assert(got.size == verts.size - roots)
  }

  test("Trussness matches brute-force peel on seeded graph + planted K5") {
    import spark.implicits._
    val base = randGraph(30, 0.18, 41L) ++
      (for { a <- 0 until 5; b <- a + 1 until 5 }
        yield (900L + a, 900L + b)) // disconnected K5 → trussness 5
    // brute force: level peel on edge support
    def support(es: Set[(Long, Long)]): Map[(Long, Long), Int] = {
      val adj = adjOf(es)
      es.iterator.map { case (a, b) => (a, b) -> (adj(a) & adj(b)).size }.toMap
    }
    val want = mutable.Map[(Long, Long), Long]()
    var cur = base
    var k = 3
    while (cur.nonEmpty && k < 50) {
      var stable = false
      while (!stable && cur.nonEmpty) {
        val kept = cur.filter(e => support(cur)(e) >= k - 2)
        stable = kept.size == cur.size
        cur.diff(kept).foreach(e => want(e) = (k - 1).toLong)
        cur = kept
      }
      k += 1
    }
    val got = graft.algos.KTruss.trussness(spark, base.toSeq.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want.toMap, s"diff=${got.toSet.diff(want.toSet)} / ${want.toSet.diff(got.toSet)}")
    assert(got.count(_._2 == 5L) == 10) // every K5 edge
  }

  test("rmat matches the in-memory bit walk and is a zero-shuffle projection") {
    val (m, scale, seed) = (500L, 7, 11L)
    val want = (0L until m).map { i =>
      var src = 0L; var dst = 0L
      for (l <- 0 until scale) {
        val h1 = (i * 48271L + l * 2000003L + seed + 987654321L) % 1000000007L
        val r = (h1 * h1) % 1000000007L % 16L
        val row = if (r < 12) 0L else 1L
        val colb = if (r < 9) 0L else if (r < 12) 1L else if (r < 15) 0L else 1L
        src |= row << l; dst |= colb << l
      }
      (src, dst)
    }
    val df = graft.core.GBMatrix.rmat(spark, scale, m, seed)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.sorted == want.sorted)
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "rmat must be a pure projection")
    // skew sanity: the a-quadrant corner vertex dominates (power law)
    val deg = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(deg(0L) == deg.values.max)
  }

  test("butterflies matches brute-force 4-cycle count on a seeded bipartite graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(71L)
    // left ids 0..19, right ids 100..139
    val es = (for { a <- 0 until 20; b <- 0 until 40 if rnd.nextDouble() < 0.15 }
      yield (a.toLong, 100L + b)).toSet
    val want = (for { a <- 0L until 20L; b <- a + 1 until 20L } yield {
      val common = es.filter(_._1 == a).map(_._2) & es.filter(_._1 == b).map(_._2)
      common.size.toLong * (common.size - 1) / 2
    }).sum
    val got = graft.algos.CoCitation.butterflies(spark, es.toSeq.toDF("src", "dst"))
      .collect()(0).getLong(0)
    assert(got == want, s"got=$got want=$want")
  }

  test("MIS.runLcg replays the exact LCG schedule and is a valid MIS") {
    import spark.implicits._
    val es = randGraph(45, 0.12, 57L)
    val adj = adjOf(es)
    // in-memory replay of the same schedule
    var cand = adj.keySet
    val inSet = mutable.Set[Long]()
    var it = 0
    while (cand.nonEmpty && it < 100) {
      it += 1
      def p(id: Long) = (id * 48271L + it * 2000003L + 11213L) % 1000000007L
      val winners = cand.filter(v => (adj(v) & cand).forall(n => p(v) > p(n)))
      inSet ++= winners
      cand = cand -- winners -- winners.flatMap(adj)
    }
    val got = graft.algos.MIS.runLcg(spark, es.toSeq.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.keySet == adj.keySet)
    assert(got.filter(_._2).keySet == inSet.toSet)
    // validity: independent + maximal
    inSet.foreach(v => assert((adj(v) & inSet).isEmpty))
    (adj.keySet -- inSet).foreach(v => assert((adj(v) & inSet).nonEmpty))
  }

  test("richClub matches brute force on a seeded random graph") {
    import spark.implicits._
    val es = randGraph(40, 0.2, 91L)
    val adj = adjOf(es)
    val degs = adj.view.mapValues(_.size).toMap
    val want = degs.values.toSet.flatMap { (k: Int) =>
      val rich = degs.filter(_._2 > k).keySet
      val nk = rich.size
      if (nk < 2) None
      else {
        val ek = es.count { case (a, b) => rich(a) && rich(b) }
        Some(k.toLong -> ((nk.toLong, ek.toLong, 2.0 * ek / (nk.toDouble * (nk - 1)))))
      }
    }.toMap
    val got = graft.algos.GraphStats.richClub(spark, toEdgeDf(es))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, (nk, ek, phi)) =>
      val (gn, ge, gp) = got(k)
      assert(gn == nk && ge == ek && math.abs(gp - phi) < 1e-6,
        s"k=$k got=${got(k)} want=($nk,$ek,$phi)")
    }
  }

  test("negatives: deterministic, never a true edge, ranks dense from 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(3L)
    val es = (for { a <- 0 until 30; b <- 0 until 30
                    if a != b && rnd.nextDouble() < 0.1 }
      yield (a.toLong, b.toLong)).toSet
    val df = es.toSeq.toDF("src", "dst")
    val (k, m, seed) = (2, 8, 7L)
    val got = graft.algos.NeighborSample.negatives(spark, df, k, m, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute force mirror
    val ids = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val ridx = ids.zipWithIndex.toMap
    val n = ids.size
    val want = ids.flatMap { s =>
      val cands = (0 until m).map(t =>
          (t, ids(((ridx(s).toLong * 48271L + t * 2000003L + seed) % n).toInt)))
        .filter { case (_, c) => c != s && !es.contains((s, c)) }
        .groupBy(_._2).map { case (c, ts) => (ts.map(_._1).min, c) }
        .toSeq.sorted.take(k)
      cands.zipWithIndex.map { case ((_, c), i) => (s, (i + 1).toLong, c) }
    }.toSet
    assert(got.toSet == want)
    // repartition invariance
    val got2 = graft.algos.NeighborSample.negatives(spark, df.repartition(13), k, m, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 == got.toSet)
    got.foreach { case (s, _, c) => assert(!es.contains((s, c)) && s != c) }
  }

  test("SimRank matches dense brute force on a seeded directed graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(29L)
    val n = 25
    val es = (for { a <- 0 until n; b <- 0 until n
                    if a != b && rnd.nextDouble() < 0.12 }
      yield (a.toLong, b.toLong)).toSet
    val inN = (0 until n).map(v => es.filter(_._2 == v).map(_._1).toSeq.sorted)
    val c = 0.8125
    var sm = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to 3) {
      val nx = Array.tabulate(n, n) { (a, b) =>
        if (a == b) 1.0
        else if (inN(a).isEmpty || inN(b).isEmpty) 0.0
        else {
          val tot = (for { i <- inN(a); j <- inN(b) } yield sm(i.toInt)(j.toInt)).sum
          c * tot / (inN(a).size.toDouble * inN(b).size)
        }
      }
      sm = nx
    }
    val got = graft.algos.SimRank.runFixed(spark, es.toSeq.toDF("src", "dst"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // engine emits only nonzero pairs over edge-attached vertices
    val want = (for { a <- 0 until n; b <- 0 until n
                      if sm(a)(b) != 0.0 &&
                        (es.exists(e => e._1 == a || e._2 == a)) &&
                        (es.exists(e => e._1 == b || e._2 == b)) }
      yield (a.toLong, b.toLong) -> sm(a)(b)).toMap
    assert(got.keySet == want.keySet,
      s"extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    want.foreach { case (k2, v) =>
      assert(math.abs(got(k2) - v) < 1e-9, s"pair=$k2 got=${got(k2)} want=$v") }
  }

  test("NeighborSample.fanout == brute-force top-k; invariant to salts/partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    // directed multigraph WITH duplicate edges (sample is over the SET)
    val raw = Seq.fill(400)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (u, v) => u != v }
    val k = 3; val seed = 7L
    val want = raw.distinct.groupBy(_._1).flatMap { case (s, es) =>
      es.map(_._2).distinct
        .sortBy(d => ((d * 48271L + s * 2000003L + seed) % 1000000007L, d))
        .take(k).zipWithIndex.map { case (d, i) => (s, (i + 1).toLong, d) }
    }.toSet
    val df = raw.toDF("src", "dst")
    val got = graft.algos.NeighborSample.fanout(spark, df, k, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
    // bit-identical under different salts and input partitioning
    val got2 = graft.algos.NeighborSample.fanout(spark, df.repartition(17), k,
        seed, salts = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 == got)
    // 2-hop = join of the two shared per-vertex samples
    val h1 = got.map { case (s, _, d) => (s, d) }
    val h2 = graft.algos.NeighborSample.fanout(spark, df, 2, seed + 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val want2 = for { (r, a) <- h1.filter(_ => true); (a2, b) <- h2 if a2 == a } yield (r, a, b)
    val got3 = graft.algos.NeighborSample.fanout2(spark, df, k, 2, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got3 == want2)
  }

  test("Boruvka MSF on a long path (deep hook chains exercise path doubling)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5L)
    val n = 300
    val raw = (0 until n - 1).map(i =>
      (i.toLong, (i + 1).toLong, (1 + rnd.nextInt(5)).toDouble))
    val got = graft.algos.Boruvka.msf(spark, raw.toDF("src", "dst", "w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == raw.toSet) // a tree is its own MSF
  }
}
