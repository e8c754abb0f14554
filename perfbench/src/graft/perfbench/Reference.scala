package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Single-threaded, in-memory reference answers. Nothing here calls the
  * engine: every answer is computed from plain arrays, so a wrong engine
  * result cannot also make its own reference wrong.
  */
object Reference {

  /** A directed simple graph over dense indices into `ids` (ascending), so
    * index order is id order and "min id" is "min index".
    */
  final class Graph(val ids: Array[Long], val src: Array[Int], val dst: Array[Int]) {
    def n: Int = ids.length
    def m: Int = src.length
  }

  /** Dense graph from an edge list; duplicate (src, dst) pairs collapse. */
  def graph(src: Array[Long], dst: Array[Long]): Graph = {
    val all = new Array[Long](src.length + dst.length)
    System.arraycopy(src, 0, all, 0, src.length)
    System.arraycopy(dst, 0, all, src.length, dst.length)
    java.util.Arrays.sort(all)
    val ids = uniqueSorted(all)
    val pairs = Array.tabulate(src.length) { e =>
      (index(ids, src(e)).toLong << 32) | index(ids, dst(e)).toLong
    }
    java.util.Arrays.sort(pairs)
    val uniq = uniqueSorted(pairs)
    new Graph(ids, uniq.map(p => (p >>> 32).toInt), uniq.map(p => (p & 0xffffffffL).toInt))
  }

  private def uniqueSorted(a: Array[Long]): Array[Long] = {
    if (a.isEmpty) return a
    var k = 1
    for (i <- 1 until a.length) if (a(i) != a(k - 1)) { a(k) = a(i); k += 1 }
    java.util.Arrays.copyOf(a, k)
  }

  private def index(ids: Array[Long], id: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, id)
    require(i >= 0, s"id $id not in vertex set")
    i
  }

  /** PageRank as GraphBLAS/@GrB/pagerank.m defines it: unweighted, damp
    * 0.85, sinks (out-degree 0) get d = 1 and their mass is spread
    * uniformly, stop when the inf-norm change drops below `tol`.
    * Returns (ranks by index, iterations run).
    */
  def pagerank(g: Graph, tol: Double, damp: Double = 0.85,
               maxIter: Int = 100): (Array[Double], Int) = {
    val n = g.n
    val outDeg = new Array[Int](n)
    g.src.foreach(s => outDeg(s) += 1)
    val d = outDeg.map(k => if (k == 0) 1.0 else k.toDouble)
    val sink = outDeg.map(_ == 0)
    var r = Array.fill(n)(1.0 / n)
    var sinkMass = (0 until n).iterator.filter(sink).map(r).sum
    var iter = 0
    var delta = Double.PositiveInfinity
    while (iter < maxIter && delta >= tol) {
      val base = (1.0 - damp) / n + damp * sinkMass / n
      val s = new Array[Double](n)
      var e = 0
      while (e < g.m) { s(g.dst(e)) += r(g.src(e)) / d(g.src(e)); e += 1 }
      val next = Array.tabulate(n)(j => base + damp * s(j))
      delta = 0.0; sinkMass = 0.0
      for (j <- 0 until n) {
        delta = math.max(delta, math.abs(next(j) - r(j)))
        if (sink(j)) sinkMass += next(j)
      }
      r = next
      iter += 1
    }
    (r, iter)
  }

  /** Undirected neighbour lists (CSR over the symmetrised edge set). */
  final class Undirected(val offsets: Array[Int], val nbrs: Array[Int]) {
    def degree(v: Int): Int = offsets(v + 1) - offsets(v)
  }

  def undirected(g: Graph): Undirected = {
    val pairs = new Array[Long](2 * g.m)
    for (e <- 0 until g.m) {
      pairs(2 * e) = (g.src(e).toLong << 32) | g.dst(e)
      pairs(2 * e + 1) = (g.dst(e).toLong << 32) | g.src(e)
    }
    java.util.Arrays.sort(pairs)
    val uniq = uniqueSorted(pairs)
    val offsets = new Array[Int](g.n + 1)
    uniq.foreach(p => offsets((p >>> 32).toInt + 1) += 1)
    for (v <- 0 until g.n) offsets(v + 1) += offsets(v)
    new Undirected(offsets, uniq.map(p => (p & 0xffffffffL).toInt))
  }

  /** Connected components by union-find; each vertex is labelled with the
    * smallest id in its component.
    */
  def components(g: Graph): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(v: Int): Int = {
      var x = v
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (e <- 0 until g.m) {
      val a = find(g.src(e)); val b = find(g.dst(e))
      // the smaller index stays root, so every root is its set's min id
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    Array.tabulate(g.n)(v => g.ids(find(v)))
  }

  /** Synchronous label propagation for at most `rounds` rounds: every vertex
    * takes the label most frequent among its neighbours, ties going to the
    * smallest label; stops early once a round changes nothing.
    */
  def labelPropagation(u: Undirected, ids: Array[Long], rounds: Int): Array[Long] = {
    var labels = ids.clone()
    var round = 0
    var changed = true
    val buf = new Array[Long](u.nbrs.length)
    while (round < rounds && changed) {
      val next = new Array[Long](ids.length)
      changed = false
      for (v <- ids.indices) {
        val k = u.degree(v)
        if (k == 0) next(v) = labels(v)
        else {
          for (i <- 0 until k) buf(i) = labels(u.nbrs(u.offsets(v) + i))
          java.util.Arrays.sort(buf, 0, k)
          var best = buf(0); var bestCount = 0
          var i = 0
          while (i < k) {
            var j = i
            while (j < k && buf(j) == buf(i)) j += 1
            // ascending scan + strict '>' keeps the smallest label on ties
            if (j - i > bestCount) { best = buf(i); bestCount = j - i }
            i = j
          }
          next(v) = best
        }
        if (next(v) != labels(v)) changed = true
      }
      labels = next
      round += 1
    }
    labels
  }

  /** Triangles of the undirected simple graph, by intersecting sorted
    * higher-index neighbour lists.
    */
  def triangles(u: Undirected): Long = {
    val n = u.offsets.length - 1
    def higher(v: Int): (Int, Int) = {
      var a = u.offsets(v)
      while (a < u.offsets(v + 1) && u.nbrs(a) <= v) a += 1
      (a, u.offsets(v + 1))
    }
    var count = 0L
    for (v <- 0 until n) {
      val (a0, a1) = higher(v)
      for (p <- a0 until a1) {
        val w = u.nbrs(p)
        var (i, iEnd) = (p + 1, a1)
        var (j, jEnd) = higher(w)
        while (i < iEnd && j < jEnd) {
          val x = u.nbrs(i); val y = u.nbrs(j)
          if (x == y) { count += 1; i += 1; j += 1 }
          else if (x < y) i += 1 else j += 1
        }
      }
    }
    count
  }

  /** Spark's `xxhash64(repo, path)` (seed 42, each string hashed as UTF-8
    * bytes with the previous hash as seed), the corpus vertex id.
    */
  def vertexId(repo: String, path: String): Long = {
    def h(s: String, seed: Long): Long = {
      val b = s.getBytes(UTF_8)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
    }
    h(path, h(repo, 42L))
  }

  /** The link-graph edges of a corpus, derived by hand: each `import
    * <org>/<repo>/<path>` line names a file; lines naming no corpus file
    * drop out, self-imports drop out, repeated imports add weight.
    * Returns (src, dst, w) with (src, dst) unique.
    */
  def deriveEdges(repos: Array[String], paths: Array[String],
                  contents: Array[String]): (Array[Long], Array[Long], Array[Double]) = {
    val known = new java.util.HashSet[String]()
    for (i <- repos.indices) known.add(repos(i) + "\u0000" + paths(i))
    val weights = new java.util.HashMap[(Long, Long), Integer]()
    for (i <- repos.indices) {
      val src = vertexId(repos(i), paths(i))
      for (line <- contents(i).split("\n") if line.startsWith("import ")) {
        val parts = line.substring(7).split("/", -1)
        if (parts.length >= 3) {
          val repo = parts(0) + "/" + parts(1)
          val path = parts.drop(2).mkString("/")
          if (known.contains(repo + "\u0000" + path)) {
            val dst = vertexId(repo, path)
            if (dst != src) weights.merge((src, dst), 1, (a: Integer, b: Integer) => a + b)
          }
        }
      }
    }
    val es = new Array[Long](weights.size); val ed = new Array[Long](weights.size)
    val ew = new Array[Double](weights.size)
    var k = 0
    weights.forEach { (key, w) => es(k) = key._1; ed(k) = key._2; ew(k) = w.toDouble; k += 1 }
    (es, ed, ew)
  }

  /** Order-independent fingerprint of an edge table, for comparing two
    * derivations without shipping either to the other side.
    */
  def edgeChecksum(src: Array[Long], dst: Array[Long], w: Array[Double]): Long = {
    var sum = 0L
    for (e <- src.indices) sum += mix(mix(src(e) * 31 + dst(e)) + java.lang.Double.doubleToLongBits(w(e)))
    sum
  }

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
