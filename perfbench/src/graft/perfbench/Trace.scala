package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did during one timed call. */
final class CallStats {
  var jobs, stages, tasks = 0L
  var shuffleWrite, shuffleRead, spill, cached = 0L // bytes
  var taskRunMs, taskCpuNs = 0L
  var planMs, codegenMs, gcMs = 0L
  var wallS = 0.0
  /** stage id -> (stage wall ms, run ms of each task) */
  val stageTasks = mutable.Map[Int, (Long, mutable.ArrayBuffer[Long])]()

  /** Max over median task run time in the call's longest stage. */
  def taskSkew: Double = {
    val longest = stageTasks.values.filter(_._2.nonEmpty).maxByOption(_._1)
    longest.fold(0.0) { case (_, runs) =>
      val sorted = runs.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2))
    }
  }

  def metrics(call: String, cores: Int): Seq[(String, Double)] = {
    val mb = 1024.0 * 1024.0
    val p = s"spark.$call."
    Seq(
      (p + "jobs", jobs.toDouble),
      (p + "stages", stages.toDouble),
      (p + "tasks", tasks.toDouble),
      (p + "shuffle_write_mb", shuffleWrite / mb),
      (p + "shuffle_read_mb", shuffleRead / mb),
      (p + "spill_mb", spill / mb),
      (p + "cached_mb", cached / mb),
      (p + "task_run_s", taskRunMs / 1e3),
      (p + "task_cpu_s", taskCpuNs / 1e9),
      (p + "gc_s", gcMs / 1e3),
      (p + "plan_s", planMs / 1e3),
      (p + "codegen_s", codegenMs / 1e3),
      (p + "core_busy", if (wallS > 0) taskRunMs / 1e3 / (cores * wallS) else 0.0),
      (p + "task_skew", taskSkew))
  }
}

/** Collects per-call Spark counters: a SparkListener for jobs, stages,
  * tasks, shuffle, spill and cached blocks; a QueryExecutionListener for
  * driver-side planning time (QueryPlanningTracker phases); the
  * CodegenMetrics compile-time histogram; and the JVM's GC beans.
  *
  * Attach it, then wrap each timed call in [[record]]. The listener bus is
  * drained at both ends of a call, so every event lands on the call that
  * caused it.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var current: CallStats = _

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def record[A](body: => A): (A, CallStats) = {
    val sc = spark.sparkContext
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val stats = new CallStats
    val (codegen0, gc0) = (codegenMs, gcMs)
    current = stats
    val t0 = System.nanoTime()
    val out = try body finally {
      stats.wallS = (System.nanoTime() - t0) / 1e9
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      current = null
    }
    stats.codegenMs = codegenMs - codegen0
    stats.gcMs = gcMs - gc0
    (out, stats)
  }

  /** Total codegen compile ms. The histogram keeps every sample while it
    * holds fewer than its reservoir size; past that, count x mean.
    */
  private def codegenMs: Long = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    if (h.getCount <= snap.size) snap.getValues.sum
    else math.round(h.getCount * snap.getMean)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def withCall(f: CallStats => Unit): Unit = {
    val s = current
    if (s != null) s.synchronized(f(s))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = withCall(_.jobs += 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = withCall { s =>
    s.stages += 1
    val info = e.stageInfo
    val wall = (for (a <- info.submissionTime; b <- info.completionTime) yield b - a).getOrElse(0L)
    val runs = s.stageTasks.getOrElseUpdate(info.stageId, (0L, mutable.ArrayBuffer[Long]()))._2
    s.stageTasks(info.stageId) = (wall, runs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withCall { s =>
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.stageTasks.getOrElseUpdate(e.stageId, (0L, mutable.ArrayBuffer[Long]()))._2 +=
        m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = withCall { s =>
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) s.cached += b.memSize + b.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    withCall(_.planMs += qe.tracker.phases.values.map(_.durationMs).sum)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
