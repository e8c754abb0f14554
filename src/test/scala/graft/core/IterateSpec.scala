package graft.core

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Iterate.fixpoint on a toy loop: the state is (id, v) over 8 ids and each
  * step adds 1 to every v, so iteration i leaves max(v) = i.
  */
class IterateSpec extends SparkTestBase {

  private def init: DataFrame = spark.range(8).select(col("id"), lit(0L).as("v"))
  private def inc(state: DataFrame, iter: Int, prev: Row): DataFrame =
    state.select(col("id"), (col("v") + 1L).as("v"))
  private val maxV = Seq(max(col("v")).as("mx"))

  private def run(maxIter: Int, checkpoint: Iterate.Snapshots = Iterate.Snapshots.off,
                  stopAt: Long = Long.MaxValue): Iterate.Fixpoint =
    Iterate.fixpoint(init, 4, Seq("id"), maxIter, metrics = maxV,
      checkpoint = checkpoint)(inc)((_, row) => row.getLong(0) >= stopAt)

  private def maxOf(df: DataFrame): Long = df.agg(max(col("v"))).head.getLong(0)

  test("fixpoint stops on done or at maxIter, and reports every iteration") {
    val stopped = run(10, stopAt = 3L)
    assert(stopped.iter == 3)
    assert(stopped.trace.map(_.iter) == Seq(1, 2, 3))
    assert(stopped.trace.map(_.row.getLong(0)) == Seq(1L, 2L, 3L))
    assert(stopped.trace.forall(_.millis >= 0))
    assert(maxOf(stopped.state) == 3L)

    val capped = run(2)
    assert(capped.iter == 2 && capped.trace.size == 2 && maxOf(capped.state) == 2L)

    val none = run(0)
    assert(none.iter == 0 && none.trace.isEmpty && maxOf(none.state) == 0L)
  }

  test("step and done see the previous observation, seeded by initMetrics") {
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    // m = min(max(v), 2): 0 initially, then 1, 2, 2 — unchanged at iteration 3
    val capped = Seq(least(max(col("v")), lit(2L)).as("m"))
    val fp = Iterate.fixpoint(init, 4, Seq("id"), 10,
        metrics = capped, initMetrics = capped) { (state, iter, prev) =>
      seen += prev.getLong(0)
      inc(state, iter, prev)
    } { (prev, row) => row.getLong(0) == prev.getLong(0) }
    assert(seen == Seq(0L, 1L, 2L))
    assert(fp.iter == 3 && fp.trace.map(_.row.getLong(0)) == Seq(1L, 2L, 2L))

    // without metrics nothing is observed: rows are empty
    val plain = Iterate.fixpoint(init, 4, Nil, 2)(inc) { (prev, row) =>
      assert(prev.length == 0 && row.length == 0); false
    }
    assert(plain.iter == 2 && maxOf(plain.state) == 2L)
  }

  test("each iteration is one Spark job when the observation is present") {
    val (short, jobsShort) = jobsDuring(run(2))
    val (long, jobsLong) = jobsDuring(run(5))
    assert(short.iter == 2 && long.iter == 5)
    assert(jobsLong - jobsShort == 3, s"2 iterations: $jobsShort jobs, 5: $jobsLong")
    Iterate.free(short.state); Iterate.free(long.state)
  }

  test("an absent observation falls back to aggregating the cut state") {
    val next = Iterate.cut(init.select(col("id"), lit(5L).as("v")))
    val (fallback, fallbackJobs) =
      jobsDuring(Iterate.observation(next, "never_observed", next, maxV))
    assert(fallback.getLong(0) == 5L && fallbackJobs >= 1)

    val observed = init.observe("seen", maxV.head)
    val cut = Iterate.cut(observed)
    val (present, presentJobs) =
      jobsDuring(Iterate.observation(observed, "seen", cut, maxV))
    assert(present.getLong(0) == 0L && presentJobs == 0)
    Iterate.free(next); Iterate.free(cut)
  }

  test("only the final state's blocks stay cached after fixpoint returns") {
    val sc = spark.sparkContext
    for (keys <- Seq(Seq("id"), Nil)) {
      val before = sc.getPersistentRDDs.keySet
      val fp = Iterate.fixpoint(init, 4, keys, 4, metrics = maxV)(inc)(
        (_, _) => false)
      val finalRdd = fp.state.queryExecution.logical match {
        case lr: LogicalRDD => lr.rdd.id
        case other => fail(s"final state is not a cut leaf: $other")
      }
      assert(sc.getPersistentRDDs.keySet -- before == Set(finalRdd), s"keys=$keys")
      Iterate.free(fp.state)
    }
  }

  test("snapshots follow the cadence, resume from the newest, and log each iteration") {
    val dir = Files.createTempDirectory("graft-iterate").toString
    def snapshots(tag: String) = Iterate.Snapshots(Some(dir), 2, Seq("id", "v"),
      tag = tag, log = row => Seq("mx" -> row.getLong(0)))
    def snapshotIters = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("iter=")).sorted.toSeq
    def logLines = scala.io.Source.fromFile(s"$dir/metrics.jsonl").getLines().toList
    val line = """\{"iter":(\d+),"mx":(\d+),"millis":(\d+)\}""".r

    // every 2nd iteration plus maxIter
    val first = run(5, snapshots("toy"), stopAt = 7L)
    assert(first.iter == 5)
    assert(snapshotIters == Seq("iter=00002", "iter=00004", "iter=00005"))
    val ck = spark.read.parquet(s"$dir/iter=00005")
    assert(ck.columns.sorted.toSeq == Seq("id", "iter", "part", "v"))
    assert(maxOf(ck) == 5L)

    // resumes at the newest snapshot; the done iteration is snapshotted too
    val resumed = run(10, snapshots("toy"), stopAt = 7L)
    assert(resumed.trace.map(_.iter) == Seq(6, 7) && resumed.iter == 7)
    assert(maxOf(resumed.state) == 7L)
    assert(snapshotIters.takeRight(2) == Seq("iter=00006", "iter=00007"))

    // one line per iteration across both runs, in order, same format
    val lines = logLines
    lines.foreach(l => assert(line.matches(l), s"unparseable metric line: $l"))
    assert(lines.map { case line(i, mx, _) => (i.toInt, mx.toLong) } ==
      (1 to 7).map(i => (i, i.toLong)))

    // a different tag does not resume from these snapshots
    val fresh = run(1, snapshots("other"))
    assert(fresh.trace.map(_.iter) == Seq(1) && maxOf(fresh.state) == 1L)
    Seq(first, resumed, fresh).foreach(f => Iterate.free(f.state))

    intercept[IllegalArgumentException](Iterate.Snapshots(None, 0, Nil))
  }

  test("cutKeyed of an unlaid-out frame runs its plan once, observations kept") {
    val plain = spark.range(1000).select(col("id"), (col("id") % 7L).as("v"))
    def cutJobs(df: DataFrame): Int = {
      val (cut, jobs) = jobsDuring(Iterate.cutKeyed(df, 4, "id"))
      assert(cut.count() == 1000L)
      Iterate.free(cut)
      jobs
    }
    for (aqe <- Seq("false", "true")) {
      val key = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(key)
      spark.conf.set(key, aqe)
      try {
        val laid = cutJobs(plain.repartition(4, col("id")))
        val unlaid = cutJobs(plain)
        // AQE runs the pre-repartitioned frame's shuffle as a job of its own
        if (aqe == "false") assert(unlaid == laid, s"unlaid $unlaid, laid $laid")
        else assert(unlaid <= laid, s"AQE: unlaid $unlaid, laid $laid")
      } finally spark.conf.set(key, prev)
    }

    // the exchange sits on the frame's own plan, so its observation is filled
    val observed = plain.observe("unlaid", max(col("v")).as("mx"), count(lit(1)).as("n"))
    val cut = Iterate.cutKeyed(observed, 4, "id")
    assert(Iterate.observedRow(observed, "unlaid")(fail("absent")) == Row(6L, 1000L))
    Iterate.free(cut)
  }

  test("partitions: numPartitions when positive, else spark.sql.shuffle.partitions") {
    assert(Iterate.partitions(spark, 7) == 7)
    assert(Iterate.partitions(spark, 0) ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}
