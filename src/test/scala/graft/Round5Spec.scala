package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Multimodal, Similarity}
import graft.core.Skew

/** Round-5 additions: decoded media invariants (the oracle-able face of the
  * binary pipeline), the integer-exact PQ trainer, and the type-generic
  * hub-skew helpers (string-vertex regression from textrank).
  */
class Round5Spec extends SparkTestBase {
  import spark.implicits._

  test("media invariants: decoded values match the closed form of media_id") {
    val n = 30L
    val rows = Multimodal.invariants(Multimodal.synthesize(spark, n))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.size == n)
    for (id <- 0L until n) {
      val r = rows(id)
      val (kind, w, h) = (r.getString(1), id * 37 % 48 + 16, id * 53 % 48 + 16)
      id % 3 match {
        case 0 => // image: 24-bit BMP, rows padded to 4 bytes
          assert(kind == "image" && r.getLong(2) == w && r.getLong(3) == h)
          assert(r.getLong(7) == 54 + h * ((w * 3 + 3) / 4 * 4), s"bmp bytes id=$id")
        case 1 => // audio: id%3+1 == 2 tenths of a second at 8 kHz
          assert(kind == "audio" && r.getLong(5) == 1600 && r.getLong(6) == 8000)
          assert(r.getLong(7) == 44 + 2 * 1600, s"riff bytes id=$id")
        case _ => // video: GIF frame count
          assert(kind == "video" && r.getLong(2) == w && r.getLong(3) == h)
          assert(r.getLong(4) == id % 4 + 3, s"frames id=$id")
      }
    }
  }

  private lazy val pqCorpus = {
    // deterministic "embeddings": 24 vecs of dim 8 (m=4 -> dsub=2)
    val rows = (0L until 24L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 3.7 + j * 1.3).toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("pqCodesInt8: full coverage, codes in range, deterministic") {
    val m = 4; val ksub = 8
    val codes = Similarity.pqCodesInt8(pqCorpus, m = m, ksub = ksub)
    val got = codes.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == 24 * m, "one code per (vec, subspace)")
    assert(got.keys.map(_._2).toSet == (0L until m).toSet)
    assert(got.values.forall(c => c >= 0 && c < ksub))
    // non-degenerate: more than one centroid in use somewhere
    assert(got.values.toSet.size > 1)
    val again = Similarity.pqCodesInt8(pqCorpus, m = m, ksub = ksub)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == got, "bit-determinism across runs")
    codes.unpersist()
  }

  test("pqCodesInt8: Lloyd-refined codes agree with a local exact replay") {
    val m = 2; val ksub = 2; val seed = 7L
    val q = Similarity.quantizeInt8(pqCorpus)
      .select(col("vec_id"), col("qvec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val dsub = 8 / m
    // local replay: same Lehmer seeding, exact integer (sum, count) centroids,
    // exact rational distances compared via cross-multiplied BigInts
    def subvec(id: Long, s: Int) = q(id).slice(s * dsub, (s + 1) * dsub)
    def seedBook(s: Int) = q.keys.toSeq
      .sortBy(id => ((id * 48271L + s * 1013L + seed) % 1000003L, id))
      .take(ksub).zipWithIndex
      .map { case (id, c) => (c.toLong, subvec(id, s).map(BigInt(_)), BigInt(1)) }
    def nearest(x: Array[Long], book: Seq[(Long, Array[BigInt], BigInt)]): Long =
      book.map { case (code, sv, cnt) =>
        val a = x.map(v => BigInt(v) * v).sum
        val b = x.zip(sv).map { case (u, v) => BigInt(u) * v }.sum
        val d = sv.map(v => v * v).sum
        // (a·c² − 2bc + d)/c² compared as exact rationals via value × 1, then
        // IEEE-divided exactly like the engine (one division, same operands)
        (((a * cnt * cnt - 2 * b * cnt + d).toDouble / (cnt * cnt).toDouble), code)
      }.min._2
    val want = (for (s <- 0 until m) yield {
      val b0 = seedBook(s)
      val a0 = q.keys.map(id => id -> nearest(subvec(id, s), b0)).toMap
      val b1 = a0.groupBy(_._2).map { case (code, as) =>
        val members = as.keys.toSeq
        val sums = (0 until dsub).map(p =>
          members.map(id => BigInt(subvec(id, s)(p))).sum).toArray
        (code, sums, BigInt(members.size))
      }.toSeq
      q.keys.map(id => (id, s.toLong) -> nearest(subvec(id, s), b1))
    }).flatten.toMap
    val got = Similarity.pqCodesInt8(pqCorpus, m = m, ksub = ksub, seed = seed)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("louvain level1: disjoint triangles each collapse to one community") {
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L))
    val edges = tri.toDF("src", "dst")
    val r = graft.algos.Louvain.level1(spark, edges, rounds = 6, numPartitions = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == 6)
    assert(Set(r(0L), r(1L), r(2L)).size == 1)
    assert(Set(r(3L), r(4L), r(5L)).size == 1)
    assert(r(0L) != r(3L))
    // labels are min member ids
    assert(r(0L) == 0L && r(3L) == 3L)
  }

  test("Skew helpers are key-type-generic (textrank string vertices)") {
    // a string hub holding most of the mass — the r4 path crashed here with
    // ClassCastException in hotKeys' getLong
    val edges = ((0 until 40).map(i => ("the", s"w$i", 1.0)) ++
      Seq(("fox", "dog", 1.0), ("dog", "fox", 1.0)))
      .toDF("src", "dst", "w")
    val hot = Skew.hotKeys(edges, "src", parts = 4, minDeg = 8)
    assert(hot == Seq("the"))
    // end-to-end: the textrank-shaped call (string vertices, weighted, skew on)
    val pr = graft.algos.PageRank.run(spark, edges, maxIter = 5, tol = 0.0,
      skewSalts = 8, weighted = true).ranks
    assert(pr.count() == 43) // "the", 40 targets, fox, dog
    assert(math.abs(pr.agg(sum("r")).head.getDouble(0) - 1.0) < 1e-9)
  }

  test("grouped gather == flat gather, including the over-cap flat remainder") {
    import graft.algos.PageRank
    // a hub (src 0 -> 200 dsts) over the cap, plus a sparse tail under it;
    // skew detection OFF so the cap path (not the hot slice) handles the hub
    val edges = ((0L until 200L).map(d => (0L, d + 1, 1.0)) ++
      (1L until 50L).map(i => (i, (i * 7) % 50 + 200, 1.0))).toDF("src", "dst", "w")
    def ranks(grouped: Boolean, cap: Int) =
      PageRank.run(spark, edges, tol = 0.0, maxIter = 4, skewSalts = -1,
        grouped = grouped, groupCap = cap).ranks
        .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val flat = ranks(grouped = false, cap = 64)
    val grpCapped = ranks(grouped = true, cap = 64)   // hub stays flat
    val grpAll = ranks(grouped = true, cap = 1 << 20) // hub grouped too
    assert(flat.length == grpCapped.length && flat.length == grpAll.length)
    flat.zip(grpCapped).foreach { case ((i1, r1), (i2, r2)) =>
      assert(i1 == i2 && math.abs(r1 - r2) < 1e-12, s"capped id=$i1") }
    flat.zip(grpAll).foreach { case ((i1, r1), (i2, r2)) =>
      assert(i1 == i2 && math.abs(r1 - r2) < 1e-12, s"grouped id=$i1") }
  }

  test("charEntropy: closed forms — uniform, single-char, empty; partition-stable") {
    val d = Seq((1L, "abab"), (2L, "aaaa"), (3L, ""), (4L, "abcd"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextStats.charEntropy(d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // "abab": n=4, two chars ×2 -> H = ln4 − (2·2·ln2)/4 = ln2
    assert(got(1L)._1 == 4L)
    assert(math.abs(got(1L)._2 - math.log(2.0)) < 1e-15, got(1L).toString)
    // single repeated char -> 0 (ln4 − 4·ln4/4)
    assert(math.abs(got(2L)._2) < 1e-15)
    // empty text -> (0, 0.0) by convention
    assert(got(3L) == ((0L, 0.0)))
    // all-distinct -> ln(n) (each cnt=1, ln1 = 0)
    assert(got(4L)._2 == math.log(4.0))
    // per-row computation: partition layout changes nothing
    val got7 = graft.pipeline.TextStats.charEntropy(d.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert((1L to 4L).forall(i => got7(i) == got(i)._2))
  }

  test("ttr: hand counts — case folding, hapax, empty doc; partition-stable") {
    val d = Seq((1L, "a b A c"), (2L, ""), (3L, "x x x"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextStats.ttr(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    // "a b A c" folds to {a:2, b:1, c:1}: 4 tokens, 3 types, 2 hapax
    assert(got(1L) == ((4L, 3L, 2L, 3.0 / 4.0, 2.0 / 3.0)), got(1L).toString)
    assert(got(2L) == ((0L, 0L, 0L, 0.0, 0.0)))
    assert(got(3L) == ((3L, 1L, 0L, 1.0 / 3.0, 0.0)))
    val got7 = graft.pipeline.TextStats.ttr(d.repartition(5)).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert((1L to 3L).forall(i => got7(i) == got(i)._4))
  }

  test("snapshotDiff: content-hash CDC — commit-only churn is NOT a modification") {
    import graft.corpus.Corpus
    def snap(rows: Seq[(String, String, String, String)]) =
      rows.toDF("repo", "path", "commit", "content")
        .withColumn("lang", lit("scala"))
    val old = snap(Seq(("r", "p1", "c1", "x"), ("r", "p2", "c2", "y"),
      ("r", "p3", "c3", "z")))
    // p1: new commit, SAME content -> unchanged (dropped); p2: content
    // change -> modified; p3 gone -> deleted; p4 fresh -> added
    val next = snap(Seq(("r", "p1", "c9", "x"), ("r", "p2", "c8", "Y"),
      ("r", "p4", "c7", "w")))
    val got = Corpus.snapshotDiff(old, next).collect()
      .map(r => (r.getString(1), r.getString(2),
        Option(r.getString(3)), Option(r.getString(4)))).toSet
    assert(got == Set(
      ("p2", "modified", Some("c2"), Some("c8")),
      ("p3", "deleted", Some("c3"), None),
      ("p4", "added", None, Some("c7"))), got.toString)

    // the arithmetic evolution: statuses follow the closed-form rules
    val d = Corpus.snapshotDiff(Corpus.synthesizeArith(spark, 100),
      Corpus.synthesizeArithV2(spark, 100, nNew = 10)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    // i<100: deleted iff i%11==5 (10 of them), modified iff else i%7==3
    val del = (0L until 100L).count(_ % 11 == 5)
    val mod = (0L until 100L).count(i => i % 11 != 5 && i % 7 == 3)
    assert(d.values.count(_ == "deleted") == del)
    assert(d.values.count(_ == "modified") == mod)
    assert(d.values.count(_ == "added") == 10)
    assert(d.size == del + mod + 10)
  }

  test("doubleSweepDiameter: exact on a path graph, >= true ecc bound on a cycle+spur") {
    // path 0-1-2-3-4: seeding mid-path (2) finds an endpoint; sweep 2 = 4
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
      .map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "w")
    val r = graft.algos.GraphStats.doubleSweepDiameter(spark, path, seed = 2L)
      .collect()(0)
    // far from 2: level 2 at ids {0, 4} -> min id 0; ecc(0) = 4
    assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))
      == ((2L, 0L, 2, 4)))
    // 6-cycle with a 2-spur at 0: true diameter = 5 (3 across + 2 spur);
    // double sweep from 3 reaches spur tip 7 (dist 5) -> exact here
    val cyc = (Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
      (0L, 6L), (6L, 7L))).map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "w")
    val r2 = graft.algos.GraphStats.doubleSweepDiameter(spark, cyc, seed = 3L)
      .collect()(0)
    assert(r2.getInt(3) == 5, r2.toString)
  }

  test("spanScrub: cross-doc chunks removed, within-doc repeats need 2 DOCS, case-folded") {
    import graft.pipeline.TextStats
    val d = Seq((1L, "a b c d e"), (2L, "a b x y"), (3L, "c d c d"), (4L, "A B"))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextStats.spanScrub(df, span = 2, minDocs = 2L).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val got = run(d)
    // "a b" in docs {1,2,4} (4 via case folding), "c d" in {1,3} — both
    // boilerplate; "e", "x y" unique survive; doc 3's repeat counts ONE doc
    assert(got(1L) == ((3L, 2L, "e")), got(1L).toString)
    assert(got(2L) == ((2L, 1L, "x y")))
    assert(got(3L) == ((2L, 2L, "")))
    assert(got(4L) == ((1L, 1L, "")))
    assert(run(d.repartition(7)) == got)
  }

  test("domainMix: sqrt-temperature weights on a hand corpus; partition-stable") {
    import graft.pipeline.TextStats
    val d = Seq((1L, "t", "s1"), (2L, "t t t", "s1"), (3L, "a b c d e f g h i", "s2"))
      .toDF("doc_id", "text", "source")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextStats.domainMix(df).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val got = run(d)
    // s1: 4 tokens, s2: 9 -> sq_total = 2 + 3 = 5 exactly; w exact /5
    assert(got("s1") == ((2L, 4L, 4.0 / 13.0, 2.0 / 5.0)), got("s1").toString)
    assert(got("s2") == ((1L, 9L, 9.0 / 13.0, 3.0 / 5.0)))
    assert(run(d.repartition(5)) == got)
  }

  test("recallAtK: corpus-wide denominator counts unranked relevant docs") {
    import graft.pipeline.Eval
    val ranked = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L), (2L, 21L, 2L))
      .toDF("query_id", "doc_id", "rk")
    // q1 has TWO fully-relevant docs (11 ranked, 12 never ranked)
    val rel = Seq((1L, 11L, 2L), (1L, 12L, 2L), (2L, 20L, 1L))
      .toDF("query_id", "doc_id", "rel")
    val nt = Seq((1L, 2L), (2L, 2L), (3L, 1L)).toDF("query_id", "nterms")
    val got = Eval.recallAtK(ranked, rel, nt, ks = Seq(1, 2)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map(
      (1L, 1L) -> ((0L, 2L, 0.0)), (1L, 2L) -> ((1L, 2L, 0.5)),
      (2L, 1L) -> ((0L, 0L, 0.0)), (2L, 2L) -> ((0L, 0L, 0.0)),
      (3L, 1L) -> ((0L, 0L, 0.0)), (3L, 2L) -> ((0L, 0L, 0.0))), got.toString)
    val got7 = Eval.recallAtK(ranked.repartition(7), rel.repartition(3), nt, Seq(1, 2))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got7 == got)
  }

  test("avgPrecision: hand AP, min(tot_rel,k) denominator, zero-rel query") {
    import graft.pipeline.Eval
    val ranked = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L))
      .toDF("query_id", "doc_id", "rk")
    val rel = Seq((1L, 11L, 2L), (1L, 12L, 2L), (2L, 20L, 1L))
      .toDF("query_id", "doc_id", "rel")
    val nt = Seq((1L, 2L), (2L, 2L), (3L, 1L)).toDF("query_id", "nterms")
    val got = Eval.avgPrecision(ranked, rel, nt, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // q1: miss at 1, hit at 2 -> sum_prec 1/2; ap = (1/2)/min(2,2) = 0.25
    assert(got(1L) == ((2L, 0.5, 0.25)), got(1L).toString)
    assert(got(2L) == ((0L, 0.0, 0.0)))   // rel 1 != nterms 2 -> nothing relevant
    assert(got(3L) == ((0L, 0.0, 0.0)))
    val got7 = Eval.avgPrecision(ranked.repartition(5), rel.repartition(3), nt, k = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got7 == got)
  }

  test("zscoreOutliers: exact integer flag predicate, degenerate σ=0 type") {
    import graft.pipeline.Events
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // type a: [0,0,0,0,100] -> cents S=10000, Q=1e8, den2=4e8;
    // v=10000 has num=40000 -> z = 40000/20000 = 2.0 exactly
    val rows = Seq(
      (1L, t0, 1L, "a", 0.0), (2L, t0, 1L, "a", 0.0), (3L, t0, 1L, "a", 0.0),
      (4L, t0, 1L, "a", 0.0), (5L, t0, 1L, "a", 100.0),
      (6L, t0, 1L, "b", 7.0), (7L, t0, 1L, "b", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    def run(df: org.apache.spark.sql.DataFrame, t: Int) =
      Events.zscoreOutliers(df, threshold = t).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // t=1: only the spike flags (others z=-0.5); type b is σ=0 -> nothing
    assert(run(rows, 1) == Set((5L, "a", 10000L, 2.0)), run(rows, 1).toString)
    // t=3: 2.0 < 3 -> nothing anywhere (9·den2 boundary is strict)
    assert(run(rows, 3) == Set())
    assert(run(rows.repartition(5), 1) == run(rows, 1))
  }

  test("klDrift: hand two-lang corpus vs a scala replica; zero-count smoothing") {
    import graft.pipeline.TextStats
    val d = Seq((1L, "a a b", "l1"), (2L, "a b b", "l2"), (3L, "c", "l3"))
      .toDF("doc_id", "text", "lang")
    val got = TextStats.klDrift(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // vocab (all 3 terms, K=24): a:3, b:3, c:1; gtot=7
    val K = 24.0
    def q(c: Double) = (c + 1) / (7 + K)
    def kl(ca: Double, cb: Double, cc: Double) = {
      val n = ca + cb + cc
      def p(c: Double) = (c + 1) / (n + K)
      // term-sorted fold a, b, c — the engine's pinned order
      p(ca) * math.log(p(ca) / q(3)) + p(cb) * math.log(p(cb) / q(3)) +
        p(cc) * math.log(p(cc) / q(1))
    }
    assert(got("l1") == ((3L, kl(2, 1, 0))), s"${got("l1")} vs ${kl(2, 1, 0)}")
    assert(got("l2") == ((3L, kl(1, 2, 0))))
    assert(got("l3") == ((1L, kl(0, 0, 1))))
    val got7 = TextStats.klDrift(d.repartition(7)).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got.forall { case (l, (_, v)) => got7(l) == v })
  }

  test("cusum: hand series via the prefix identity; constant series peaks earliest") {
    import graft.pipeline.Events
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // type a hourly cents [100, 400, 100]: H=3 S=600, terms [-300,600,-300],
    // prefix [-300,300,0], runmin -300 -> C = [0,600,300]; peak 600 @ h1
    val rows = Seq(
      (1L, t(0), 1L, "a", 1.0), (2L, t(1), 1L, "a", 4.0), (3L, t(2), 1L, "a", 1.0),
      (4L, t(0), 1L, "b", 2.0), (5L, t(1), 1L, "b", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    def run(df: org.apache.spark.sql.DataFrame) =
      Events.cusum(df).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val got = run(rows)
    assert(got("a") == ((3L, 600L, 600L, "2024-01-01 01:00:00")), got("a").toString)
    // constant series: every C'=0 -> earliest hour wins the tie
    assert(got("b") == ((2L, 400L, 0L, "2024-01-01 00:00:00")))
    assert(run(rows.repartition(5)) == got)
  }

  test("effectiveDiameter: path graph exact d90/d50 and true diameter") {
    import graft.algos.GraphStats
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    // ordered pair histogram: d1:6 d2:4 d3:2, total 12; cum*100 = 600,
    // 1000, 1200 vs 90%*12*100=1080 -> d90=3; vs 50% (600) -> d50=1
    val r90 = GraphStats.effectiveDiameter(spark, e, pct = 90).collect()(0)
    assert((r90.getLong(0), r90.getLong(1), r90.getLong(2)) == ((12L, 3L, 3L)), r90.toString)
    val r50 = GraphStats.effectiveDiameter(spark, e, pct = 50).collect()(0)
    assert((r50.getLong(1), r50.getLong(2)) == ((1L, 3L)), r50.toString)
  }

  test("buildLayers: cycle builds together at its dependency layer, isolates at 0") {
    import graft.corpus.Corpus
    // a -> b, b <-> c (cycle), d isolated: condensation a -> {b,c}
    val corpus = Seq(
      ("o/a", "m.s", "c1", "scala", "import o/b/m.s"),
      ("o/b", "m.s", "c1", "scala", "import o/c/m.s"),
      ("o/c", "m.s", "c1", "scala", "import o/b/m.s"),
      ("o/d", "m.s", "c1", "scala", "no imports here"))
      .toDF("repo", "path", "commit", "lang", "content")
    val got = Corpus.buildLayers(spark, corpus).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "o/a" -> (("o/a", 1L, 0L)), "o/b" -> (("o/b", 2L, 1L)),
      "o/c" -> (("o/b", 2L, 1L)), "o/d" -> (("o/d", 1L, 0L))), got.toString)
  }

  test("psi: hand bins (integer div bucketing), identical samples score 0") {
    import graft.pipeline.Eval
    val a = Seq(0L, 10L).toDF("score")
    val b = Seq(10L, 10L).toDF("score")
    val got = Eval.psi(a, b, bins = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // bin0: a=1 b=0; bin1: a=1 b=2 (top edge closed); add-one over ta=tb=2
    val t0 = (0.5 - 0.25) * math.log(0.5 / 0.25)
    val t1 = (0.5 - 0.75) * math.log(0.5 / 0.75)
    assert(got(0L) == ((1L, 0L, t0, t0 + t1)), got(0L).toString)
    assert(got(1L) == ((1L, 2L, t1, t0 + t1)))
    // identical samples: every term 0 -> psi 0 (incl. the degenerate range)
    val c = Seq(5L).toDF("score")
    val gotC = Eval.psi(c, c, bins = 2).collect().map(_.getDouble(4)).toSet
    assert(gotC == Set(0.0), gotC.toString)
  }

  test("transitions: hand journeys, event_id tie-break, row-conditional p") {
    import graft.pipeline.Events
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val rows = Seq(
      (1L, t(0), 1L, "a", 0.0), (2L, t(1), 1L, "b", 0.0), (3L, t(2), 1L, "a", 0.0),
      (4L, t(0), 2L, "a", 0.0), (5L, t(1), 2L, "b", 0.0),
      (6L, t(0), 3L, "a", 0.0), (7L, t(1), 3L, "c", 0.0),
      // same ts: event_id orders the pair as (x, y)
      (8L, t(5), 4L, "x", 0.0), (9L, t(5), 4L, "y", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    def run(df: org.apache.spark.sql.DataFrame) =
      Events.transitions(df).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val got = run(rows)
    assert(got == Map(
      ("a", "b") -> ((2L, 3L, 2.0 / 3.0)), ("a", "c") -> ((1L, 3L, 1.0 / 3.0)),
      ("b", "a") -> ((1L, 1L, 1.0)), ("x", "y") -> ((1L, 1L, 1.0))), got.toString)
    assert(run(rows.repartition(5)) == got)
  }

  test("pprMulti: every persona slice equals its single-persona runFixed") {
    import graft.algos.PageRank
    val e = SparkEntry.edgesBi(spark, "/root/testdata/sf0.001")
    val personas = Seq(1L -> Seq(1L, 3L), 2L -> Seq(7L))
    val multi = PageRank.pprMulti(spark, e, personas, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((pid, ss) <- personas) {
      val single = PageRank.runFixed(spark, e, k = 3, seeds = ss).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).filter(_._2 != 0.0).toMap
      val slice = multi.collect { case ((p, id), r) if p == pid => id -> r }
      assert(slice.keySet == single.keySet,
        s"pid $pid support differs: ${slice.keySet.size} vs ${single.keySet.size}")
      slice.foreach { case (id, r) =>
        assert(math.abs(r - single(id)) < 1e-12, s"pid $pid id $id: $r vs ${single(id)}") }
    }
  }

  test("rbo: reversed pair, identical pair (1 − 2^-k), disjoint pair") {
    import graft.pipeline.Eval
    val a = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rk")
    val bRev = Seq((2L, 1L), (1L, 2L)).toDF("doc_id", "rk")
    // both docs shared but only at depth 2: 2^-1·0 + 2^-2·(2/2) = 0.25
    val r1 = Eval.rbo(a, bRev, k = 2).collect()(0)
    assert((r1.getLong(0), r1.getDouble(1)) == ((2L, 0.25)), r1.toString)
    // identical rankings: truncated RBO = Σ 2^-i = 1 − 2^-k
    val r2 = Eval.rbo(a, a, k = 2).collect()(0)
    assert((r2.getLong(0), r2.getDouble(1)) == ((2L, 0.75)), r2.toString)
    // disjoint rankings: empty join -> (0, 0.0)
    val c = Seq((9L, 1L)).toDF("doc_id", "rk")
    val r3 = Eval.rbo(a, c, k = 2).collect()(0)
    assert((r3.getLong(0), r3.getDouble(1)) == ((0L, 0.0)), r3.toString)
  }
}
