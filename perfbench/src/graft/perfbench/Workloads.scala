package graft.perfbench

import java.io._
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.corpus.Corpus
import graft.core.Skew

/** One timed call, split into the steps a user would see as separate calls
  * into the library. `layer` holds per-layer numbers the step reported.
  */
final class Job {
  val steps = mutable.ArrayBuffer[(String, Double, Option[CallStats])]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val failures = mutable.ArrayBuffer[String]()
  def seconds: Double = steps.map(_._2).sum
}

/** A workload: how its seeded input and reference answers are made, and
  * the timed call it runs on them. Inputs live under `dir`; the engine
  * only ever sees what `open` reads back from there.
  */
sealed trait Workload {
  def name: String
  /** Corpus files generated; part of the input cache key. */
  def files: Long
  def prepare(spark: SparkSession, seed: Long, dir: Path): Unit
  /** Reads and caches the input; `work` is scratch space for outputs. */
  def open(spark: SparkSession, dir: Path, work: Path): Opened
}

trait Opened {
  /** Loads the reference answers; called after set-up is timed. */
  def loadReference(): Unit
  /** One timed call; `step` times (and, when tracing, traces) each part. */
  def run(job: Job, step: Workloads.Step): Unit
  /** Hot keys Skew.hotKeys finds in the symmetrised edge table at 4
    * partitions; evaluated outside any timed call.
    */
  def hotKeys(): Int
}

object Workloads {
  /** Times one named step of a job; the benchmark supplies a tracing or a
    * plain implementation.
    */
  trait Step { def apply[A](job: Job, name: String)(body: => A): A }

  val Partitions = 4
  val PageRankTol = 1e-6
  /** Below the 11-13 iterations tol 1e-6 takes on these graphs, so every
    * seed runs the same number of iterations (the count is fixed by the
    * math, not by the engine).
    */
  val PageRankIters = 10
  val LpaRounds = 5

  val all: Seq[Workload] = Seq(PagerankCorpus, LabelsHub)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  /** Per-layer names every workload reports (0 where its call does not
    * reach the layer), so a traced run of any workload prints the full set.
    */
  val SparkCalls = Seq("derive", "pagerank", "cc", "lpa", "tricount")
  val LayerNames: Seq[String] = Seq(
    "corpus.derive_s", "corpus.edges",
    "pagerank.s", "pagerank.setup_s", "pagerank.loop_s", "pagerank.iter1_ms",
    "pagerank.iter_ms_p50", "pagerank.iters",
    "cc.s", "cc.rounds", "lpa.s",
    "tricount.s", "tricount.triangles")

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  // --- reference answer files: plain arrays, big-endian ---------------------

  def writeArrays(file: Path)(f: DataOutputStream => Unit): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(file), 1 << 20))
    try f(out) finally out.close()
  }
  def readArrays[A](file: Path)(f: DataInputStream => A): A = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(file), 1 << 20))
    try f(in) finally in.close()
  }
  def writeLongs(o: DataOutputStream, a: Array[Long]): Unit = { o.writeInt(a.length); a.foreach(o.writeLong) }
  def readLongs(i: DataInputStream): Array[Long] = Array.fill(i.readInt())(i.readLong())
  def writeDoubles(o: DataOutputStream, a: Array[Double]): Unit = { o.writeInt(a.length); a.foreach(o.writeDouble) }
  def readDoubles(i: DataInputStream): Array[Double] = Array.fill(i.readInt())(i.readDouble())

  def edgeArrays(edges: DataFrame): (Array[Long], Array[Long]) = {
    val rows = edges.select(col("src"), col("dst")).collect()
    (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  /** (id, value) rows sorted by id, compared exactly to the reference ids. */
  def sortedById[V: ClassTag](rows: Array[Row], get: Row => V, ids: Array[Long]): Option[Array[V]] = {
    val sorted = rows.sortBy(_.getLong(0))
    if (sorted.length != ids.length || sorted.indices.exists(i => sorted(i).getLong(0) != ids(i))) None
    else Some(sorted.map(get))
  }

  def symmetricHotKeys(edges: DataFrame): Int = {
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    Skew.hotKeys(und, "src", Partitions).size
  }
}

/** Raw corpus rows; the timed call ingests them into the link graph and
  * analyses it: derive the edge table, write it as parquet, read it back,
  * run PageRank on it (tol 1e-6, capped at [[Workloads.PageRankIters]]),
  * then count its triangles.
  */
object PagerankCorpus extends Workload {
  import Workloads._
  val name = "pagerank_corpus"
  val files = 5000L

  def prepare(spark: SparkSession, seed: Long, dir: Path): Unit = {
    Corpus.synthesize(spark, files, seed = seed).write.parquet(dir.resolve("corpus").toString)
    val rows = spark.read.parquet(dir.resolve("corpus").toString)
      .select(col("repo"), col("path"), col("content")).collect()
    val (s, d, w) = Reference.deriveEdges(rows.map(_.getString(0)), rows.map(_.getString(1)),
      rows.map(_.getString(2)))
    val g = Reference.graph(s, d)
    val (ranks, iters) = Reference.pagerank(g, PageRankTol, maxIter = PageRankIters)
    writeArrays(dir.resolve("reference.bin")) { o =>
      o.writeLong(s.length); o.writeLong(Reference.edgeChecksum(s, d, w))
      o.writeLong(Reference.triangles(Reference.undirected(g)))
      o.writeInt(iters); writeLongs(o, g.ids); writeDoubles(o, ranks)
    }
  }

  def open(spark: SparkSession, dir: Path, work: Path): Opened = new Opened {
    val corpus = spark.read.parquet(dir.resolve("corpus").toString).cache()
    corpus.count()
    val out = work.resolve("edges").toString
    var refEdges, refChecksum, refTriangles = 0L
    var refIters = 0
    var refIds: Array[Long] = _
    var refRanks: Array[Double] = _

    def loadReference(): Unit = readArrays(dir.resolve("reference.bin")) { i =>
      refEdges = i.readLong(); refChecksum = i.readLong(); refTriangles = i.readLong()
      refIters = i.readInt(); refIds = readLongs(i); refRanks = readDoubles(i)
    }

    def run(job: Job, step: Step): Unit = {
      step(job, "derive") {
        Corpus.deriveEdges(corpus).write.mode("overwrite").parquet(out)
      }
      job.layer += "corpus.derive_s" -> job.steps.last._2
      val rows = spark.read.parquet(out).select(col("src"), col("dst"), col("w")).collect()
      job.layer += "corpus.edges" -> rows.length.toDouble
      val sum = Reference.edgeChecksum(rows.map(_.getLong(0)), rows.map(_.getLong(1)),
        rows.map(_.getDouble(2)))
      if (rows.length != refEdges || sum != refChecksum)
        job.failures += s"derived edges (${rows.length}) differ from reference ($refEdges)"

      val res = step(job, "pagerank") {
        val r = PageRank.run(spark, spark.read.parquet(out), tol = PageRankTol,
          maxIter = PageRankIters)
        r.ranks.count()
        r
      }
      val iterMs = res.metrics.map(_.millis.toDouble)
      val pagerankS = job.steps.last._2
      job.layer ++= Seq(
        "pagerank.s" -> pagerankS,
        "pagerank.setup_s" -> (pagerankS - iterMs.sum / 1e3),
        "pagerank.loop_s" -> iterMs.sum / 1e3,
        "pagerank.iter1_ms" -> iterMs.headOption.getOrElse(0.0),
        "pagerank.iter_ms_p50" -> median(iterMs.drop(2)),
        "pagerank.iters" -> res.iterations.toDouble)
      if (res.iterations != refIters)
        job.failures += s"pagerank iterations ${res.iterations} != reference $refIters"
      sortedById(res.ranks.collect(), _.getDouble(1), refIds) match {
        case None => job.failures += "pagerank vertex set differs from reference"
        case Some(r) =>
          val bad = r.indices.count(v => math.abs(r(v) - refRanks(v)) > 1e-6 * math.abs(refRanks(v)))
          if (bad > 0) job.failures += s"pagerank: $bad ranks outside rtol 1e-6"
      }

      val triangles = step(job, "tricount") {
        TriangleCount.run(spark, spark.read.parquet(out))
      }
      job.layer ++= Seq("tricount.s" -> job.steps.last._2,
        "tricount.triangles" -> triangles.toDouble)
      if (triangles != refTriangles)
        job.failures += s"triangles $triangles != reference $refTriangles"
    }

    def hotKeys(): Int = symmetricHotKeys(spark.read.parquet(out))
  }
}

/** Corpus link graph plus one hub source owning half of all edges; the
  * timed call is connected components to fixpoint, then label propagation.
  */
object LabelsHub extends Workload {
  import Workloads._
  val name = "labels_hub"
  val files = 5000L
  /** The hub's id; its leaf neighbours take ids 1..k. Corpus ids are 64-bit
    * hashes, and prepare() checks none falls in [HubId, k].
    */
  val HubId = -1L

  def prepare(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val base = Corpus.deriveEdges(Corpus.synthesize(spark, files, seed = seed))
      .select(col("src"), col("dst"), col("w")).cache()
    val m = base.count()
    val verts = base.select(col("src").as("id")).union(base.select(col("dst").as("id"))).distinct()
    // the hub links to every corpus vertex, so components settle in the
    // same number of rounds on every seed; fresh leaves make up the rest of
    // its m out-edges
    val leaves = m - verts.count()
    require(verts.filter(col("id").between(HubId, leaves)).isEmpty,
      "a corpus vertex id collides with the hub or its leaves")
    val hub = verts.union(spark.range(1, leaves + 1).select(col("id")))
      .select(lit(HubId).as("src"), col("id").as("dst"), lit(1.0).as("w"))
    base.union(hub).write.parquet(dir.resolve("edges").toString)
    base.unpersist()

    val (s, d) = edgeArrays(spark.read.parquet(dir.resolve("edges").toString))
    val g = Reference.graph(s, d)
    val u = Reference.undirected(g)
    writeArrays(dir.resolve("reference.bin")) { o =>
      writeLongs(o, g.ids)
      writeLongs(o, Reference.components(g))
      writeLongs(o, Reference.labelPropagation(u, g.ids, LpaRounds))
    }
  }

  def open(spark: SparkSession, dir: Path, work: Path): Opened = new Opened {
    val edges = spark.read.parquet(dir.resolve("edges").toString).cache()
    edges.count()
    var refIds, refComp, refLabels: Array[Long] = _

    def loadReference(): Unit = readArrays(dir.resolve("reference.bin")) { i =>
      refIds = readLongs(i); refComp = readLongs(i); refLabels = readLongs(i)
    }

    private def check(job: Job, what: String, df: DataFrame, ref: Array[Long]): Unit =
      sortedById(df.collect(), _.getLong(1), refIds) match {
        case None => job.failures += s"$what vertex set differs from reference"
        case Some(l) =>
          val bad = l.indices.count(v => l(v) != ref(v))
          if (bad > 0) job.failures += s"$what: $bad labels differ from reference"
      }

    def run(job: Job, step: Step): Unit = {
      val (comp, rounds) = step(job, "cc") {
        val (df, r) = ConnectedComponents.runCounted(spark, edges)
        df.count()
        (df, r)
      }
      job.layer ++= Seq("cc.s" -> job.steps.last._2, "cc.rounds" -> rounds.toDouble)
      check(job, "cc", comp, refComp)
      val labels = step(job, "lpa") {
        val df = LabelPropagation.run(spark, edges, maxIter = LpaRounds)
        df.count()
        df
      }
      job.layer += "lpa.s" -> job.steps.last._2
      check(job, "lpa", labels, refLabels)
    }

    def hotKeys(): Int = symmetricHotKeys(edges)
  }
}
