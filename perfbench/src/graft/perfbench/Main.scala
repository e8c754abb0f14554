package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `perfbench/run.py` launches it, one JVM per
  * run. It starts a SparkSession and times how long the JVM took to get
  * there, from `--t0-ns` (the launcher's clock just before it spawned the
  * JVM). If the input cache lacks the seed, it then generates the
  * workload's seeded input and reference answers there. It opens the cached
  * input, makes the first (cold) call and a fixed number of warm-up calls,
  * then repeats the call for `--seconds`, checking every output. With
  * `--trace 1` the measured calls alternate between untraced and traced,
  * and the traced ones report per-layer numbers. Results go to the JSON
  * file named by `--out`.
  */
object Main {
  private val Cores = 4
  private val MinCalls = 3
  /** Unmeasured calls between the cold first call and the measured ones.
    * The JIT speeds the calls up steeply over the first few; measuring
    * after them keeps every run's median off that part of the curve.
    */
  private val WarmupCalls = 2
  /** Times the input is opened; set-up reports the median. */
  private val SetupOpens = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val input = Paths.get(opt("cache")).resolve(s"${workload.name}-n${workload.files}-s$seed")
    val work = Paths.get(opt("work"))
    withSession(work) { spark =>
      val sessionS = sinceEpochNs(opt("t0-ns").toLong)
      if (!Files.exists(input.resolve("DONE"))) {
        val tmp = input.resolveSibling(input.getFileName + ".tmp")
        deleteTree(tmp)
        Files.createDirectories(tmp)
        val t0 = System.nanoTime()
        workload.prepare(spark, seed, tmp)
        System.err.println(f"[perfbench] generated input in ${(System.nanoTime() - t0) / 1e9}%.3f s")
        Files.createFile(tmp.resolve("DONE"))
        Files.move(tmp, input)
        spark.catalog.clearCache()
        System.gc()
      }
      run(spark, workload, input, work, sessionS, opt("seconds").toDouble,
        opt("trace") == "1", Paths.get(opt("out")))
    }
  }

  private def withSession(work: Path)(body: SparkSession => Unit): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Workloads.Partitions.toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  private def sinceEpochNs(t0: Long): Double = {
    val now = Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - t0) / 1e9
  }

  private val plainStep = new Workloads.Step {
    def apply[A](job: Job, name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val out = body
      job.steps += ((name, (System.nanoTime() - t0) / 1e9, None))
      out
    }
  }

  private def tracedStep(trace: Trace) = new Workloads.Step {
    def apply[A](job: Job, name: String)(body: => A): A = {
      val (out, stats) = trace.record(body)
      job.steps += ((name, stats.wallS, Some(stats)))
      out
    }
  }

  private def run(spark: SparkSession, workload: Workload, input: Path, work: Path,
                  sessionS: Double, seconds: Double, traced: Boolean, out: Path): Unit = {
    // the first open may run in a cold JVM or right after generating the
    // input; the median of several reads the same either way
    val (opened, openS) = {
      val opens = (1 to SetupOpens).map { i =>
        if (i > 1) spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val o = workload.open(spark, input, work)
        (o, (System.nanoTime() - t0) / 1e9)
      }
      System.err.println(f"[perfbench] session ${sessionS}%.3f s, opens " +
        opens.map(o => f"${o._2}%.3f").mkString(", ") + " s")
      (opens.last._1, Workloads.median(opens.map(_._2)))
    }
    opened.loadReference()
    val sc = spark.sparkContext
    val kept = sc.getPersistentRDDs.keySet
    val failures = mutable.ArrayBuffer[String]()
    var attempted, failed = 0

    def call(step: Workloads.Step): Job = {
      val job = new Job
      attempted += 1
      try opened.run(job, step)
      catch { case e: Exception => job.failures += e.toString }
      System.err.println(s"[perfbench] call $attempted: " +
        job.steps.map { case (n, t, _) => f"$n $t%.3f s" }.mkString(", "))
      if (job.failures.nonEmpty) failed += 1
      failures ++= job.failures
      // drop what the call left cached (its result state), keep the input
      sc.getPersistentRDDs.foreach { case (id, rdd) => if (!kept(id)) rdd.unpersist(true) }
      System.gc()
      job
    }

    // the first call runs in a cold JVM (JIT, codegen caches), as a batch
    // job's only call would; the warm-up calls after it are not measured
    val first = call(plainStep)
    val rssMb = peakRssMb()
    for (_ <- 1 to WarmupCalls) call(plainStep)
    val warm = mutable.ArrayBuffer[Job]()
    val tracedJobs = mutable.ArrayBuffer[Job]()
    val trace = new Trace(spark)
    def measured = (warm ++ tracedJobs).map(_.seconds).sum
    // at least MinCalls, so job_s is a median of several
    while (measured < seconds || warm.size < MinCalls || (traced && tracedJobs.size < 2)) {
      warm += call(plainStep)
      if (traced) {
        trace.attach()
        try tracedJobs += call(tracedStep(trace)) finally trace.detach()
      }
    }

    def med(jobs: collection.Seq[Job])(f: Job => Double) = Workloads.median(jobs.map(f))
    val jobS = med(warm)(_.seconds)
    val metrics = mutable.LinkedHashMap[String, Double]()
    if (!traced) {
      metrics += "job_s" -> jobS
      metrics += "setup_s" -> (sessionS + openS)
      metrics += "peak_rss_mb" -> rssMb
    } else {
      metrics += "first_call_s" -> first.seconds
      for (name <- Workloads.LayerNames)
        metrics += name -> med(tracedJobs)(_.layer.getOrElse(name, 0.0))
      // |E| over the median per-iteration time (iterations 3..n)
      val iterMs = metrics("pagerank.iter_ms_p50")
      metrics += "pagerank.iter_edges_per_s" ->
        (if (iterMs > 0) metrics("corpus.edges") / (iterMs / 1e3) else 0.0)
      metrics += "skew.hot_keys" -> opened.hotKeys().toDouble
      // a call this workload does not make reports zeros (an empty CallStats)
      for (c <- Workloads.SparkCalls; i <- new CallStats().metrics(c, Cores).indices) {
        val perJob = tracedJobs.map(_.steps.collectFirst { case (`c`, _, Some(s)) => s }
          .getOrElse(new CallStats).metrics(c, Cores)(i))
        metrics += perJob.head._1 -> Workloads.median(perJob.map(_._2))
      }
      val tracedS = med(tracedJobs)(_.seconds)
      metrics += "trace.job_s" -> tracedS
      metrics += "trace.overhead_s" -> (tracedS - jobS)
    }
    writeJson(out, metrics.toMap, attempted, failed, failures.take(5).toSeq)
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
    finally src.close()
  }

  private def writeJson(out: Path, metrics: Map[String, Double], attempted: Int, failed: Int,
                        failures: Seq[String] = Nil): Unit = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    Files.writeString(out, s"""{"attempted": $attempted, "failed": $failed, """ +
      s""""failures": [${failures.map(str).mkString(", ")}], "metrics": {$ms}}""")
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }
}
