package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The iteration machinery of the fixpoint algorithms: [[fixpoint]] runs the
  * loop, the rest are its parts.
  *
  * Every iteration of the graph algorithms references the previous vertex
  * state MORE THAN ONCE (gather join + merge join), so carrying the raw
  * logical plan across iterations grows it EXPONENTIALLY — Catalyst
  * re-analysis, not execution, becomes the bottleneck after ~15 iterations.
  * The reference has no analogue (its C loops mutate in place); the
  * Spark-native equivalent of that in-place update is an eager local
  * checkpoint per iteration: materialize the state into cached partitions and
  * replace the plan with a constant-size leaf (`LogicalRDD`), preserving the
  * partitioning so co-partitioned joins stay shuffle-free (SURVEY.md §7.4
  * "iterative lineage blowup").
  *
  * [[fixpoint]] keeps the two contracts every loop depends on:
  *  1. Metrics are observed on the frame that is cut. `cut`/`cutKeyed`
  *     execute that frame's OWN QueryExecution, which is what fills its
  *     CollectMetrics accumulator, so the convergence value costs no extra
  *     job. A derived frame (even a `.select`) is re-planned and never fills
  *     it — and Spark then reports the accumulator's zero row, not an absent
  *     key, so breaking this contract reads wrong values rather than failing.
  *     Only a truly absent observation falls back to an aggregate over the
  *     cut state (one extra job).
  *  2. [[free]] releases a predecessor's blocks in local mode only, and only
  *     once its successor is cut.
  */
object Iterate {

  /** Run `body` with AQE disabled, restoring the previous setting after.
    *
    * Fixpoint loops have a fully-known, fixed layout (declared hash
    * partitioning, user-specified partition counts, shuffle-hash joins), so
    * AQE's per-stage materialization barriers and replanning add only driver
    * round-trips there — measured ~10% of an 8M-edge PageRank iteration at
    * 32 cores. AQE stays ON for the ad-hoc analytic queries, where runtime
    * stats genuinely pick join strategies.
    */
  def withoutAQE[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Partition count of an algorithm run: `numPartitions` when positive,
    * else the session's `spark.sql.shuffle.partitions`.
    */
  def partitions(spark: SparkSession, numPartitions: Int): Int =
    if (numPartitions > 0) numPartitions
    else spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** The gather join of a round: the cached, hash(src)-partitioned
    * adjacency `adj` ⋈ the cut `state` (keyed on `src`) on `src`.
    *
    * The `shuffle_hash` hint on the state is what keeps this join
    * co-partitioned. A cut state is a `LogicalRDD` with no statistics, while
    * the cached adjacency reports its real size, so without the hint the
    * planner takes a small adjacency for the cheap side: every round it
    * would collect the whole adjacency to the driver, build a hash relation
    * and broadcast it — one extra job per round — instead of using the
    * layout both sides already share. With the hint both sides stay where
    * they are and the state is the hash side.
    */
  def gather(adj: DataFrame, state: DataFrame): DataFrame =
    adj.join(state.hint("shuffle_hash"), Seq("src"))

  /** Eagerly materialize `df` (one job over its — usually co-partitioned —
    * inputs) and return a frame whose plan is a leaf over the cached blocks.
    */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** cut() that also lays the rows out hash-partitioned by `keys` into
    * `parts` partitions and DECLARES that partitioning on the leaf, so the
    * next iteration's joins/aggs on the keys skip their exchanges. Use for
    * loop states consumed through key joins (PageRank r, CC/LPA labels).
    */
  def cutKeyed(df: DataFrame, parts: Int, keys: String*): DataFrame =
    org.apache.spark.sql.graft.GraftSqlInternals.cutHashPartitioned(df, parts, keys)

  /** Read a CollectMetrics observation (`df.observe(name, …)`) of a frame
    * that has been cut, as a Long; `fallback` runs only when it is absent.
    * A null observation (empty input) reads as 0. See contract 1 above.
    */
  def observedLong(df: DataFrame, name: String)(fallback: => Long): Long =
    df.queryExecution.observedMetrics.get(name)
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
      .getOrElse(fallback)

  /** Multi-column variant of [[observedLong]]: the whole observation Row. */
  def observedRow(df: DataFrame, name: String)(fallback: => Row): Row =
    df.queryExecution.observedMetrics.getOrElse(name, fallback)

  /** Best-effort release of the cached blocks behind a cut() frame; safe to
    * call only once the successor state has been cut (the truncated lineage
    * cannot recompute). LOCAL MODE ONLY: on a real cluster an executor death
    * after free() could lose successor blocks whose lineage references the
    * freed (truncated) predecessor — there, the last K states must stay
    * pinned and the ContextCleaner handles release. Non-local sessions and
    * non-cut frames are therefore left alone.
    */
  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD if df.sparkSession.sparkContext.isLocal =>
      lr.rdd.unpersist(false)
    case _ => ()
  }

  /** Column `i` of an observed row; a null (aggregate over no rows) is 0. */
  def long(row: Row, i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
  def double(row: Row, i: Int): Double = if (row.isNullAt(i)) 0.0 else row.getDouble(i)

  /** One iteration of a [[fixpoint]] run: its number (counting resumed
    * iterations), the observed metrics row and its wall time.
    */
  final case class Step(iter: Int, row: Row, millis: Long)

  /** A finished [[fixpoint]] run: the final cut state, the number of its
    * last iteration, and one [[Step]] per iteration this call ran.
    */
  final case class Fixpoint(state: DataFrame, iter: Int, trace: Seq[Step])

  /** Snapshot/resume policy of a [[fixpoint]] run (graft.core.Checkpoint).
    * With `dir` set, the run resumes from the newest complete snapshot there
    * whose tag matches — `resume` turns its `cols` back into a state — and
    * after every iteration appends `iter`, the fields of `log(row)` and
    * `millis` to `dir/metrics.jsonl`. It writes the state's `cols` as a
    * snapshot every `every` iterations, at the fixpoint and at `maxIter`.
    */
  final case class Snapshots(dir: Option[String], every: Int, cols: Seq[String],
      tag: String = "", log: Row => Seq[(String, Long)] = _ => Nil,
      resume: DataFrame => DataFrame = (d: DataFrame) => d) {
    require(every >= 1, "checkpointEvery must be >= 1")
  }
  object Snapshots {
    val off: Snapshots = Snapshots(None, 1, Nil)
  }

  /** The loop of every fixpoint algorithm. From the cut `init` state (or a
    * resumed snapshot), each iteration:
    *  1. builds the next state with `step(state, iter, prev)`, where `prev`
    *     is the previous iteration's observation (the `initMetrics`
    *     observation of the initial state before the first iteration);
    *  2. observes `metrics` on it — nothing is added to the plan when there
    *     are none — and cuts that same frame, keyed on `keys` into `parts`
    *     partitions (a plain [[cut]] when `keys` is empty);
    *  3. reads the observation, aggregating the cut state only if absent;
    *  4. frees the predecessor, times the iteration and applies `checkpoint`.
    * It stops after `maxIter` iterations in all, or when `done(prev, row)`
    * holds for the observations of the previous and the current iteration.
    * Only the returned state's blocks stay cached.
    */
  def fixpoint(init: DataFrame, parts: Int, keys: Seq[String],
               maxIter: Int, metrics: Seq[Column] = Nil,
               initMetrics: Seq[Column] = Nil,
               checkpoint: Snapshots = Snapshots.off)(
      step: (DataFrame, Int, Row) => DataFrame)(
      done: (Row, Row) => Boolean): Fixpoint = {
    val spark = init.sparkSession
    val resumed = checkpoint.dir.flatMap(
      Checkpoint.newest(spark, _, checkpoint.cols, checkpoint.tag))
    var iter = resumed.fold(0)(_._1)
    var (state, prev) = observeCut("fixpoint_0",
      resumed.fold(init)(r => checkpoint.resume(r._2)), parts, keys, initMetrics)
    val trace = scala.collection.mutable.ArrayBuffer[Step]()
    var stop = false
    while (!stop && iter < maxIter) {
      val t0 = System.nanoTime()
      iter += 1
      val (next, row) = observeCut(s"fixpoint_$iter", step(state, iter, prev),
        parts, keys, metrics)
      free(state)
      state = next
      stop = done(prev, row)
      prev = row
      trace += Step(iter, row, (System.nanoTime() - t0) / 1000000)
      checkpoint.dir.foreach { dir =>
        Checkpoint.logMetric(spark, dir, ("iter" -> iter.toLong) +:
          checkpoint.log(row) :+ ("millis" -> trace.last.millis): _*)
        if (iter % checkpoint.every == 0 || stop || iter == maxIter)
          Checkpoint.write(state.select(checkpoint.cols.map(col): _*), dir, iter,
            checkpoint.tag)
      }
    }
    Fixpoint(state, iter, trace.toSeq)
  }

  /** Steps 2–3 of [[fixpoint]]: the cut of `df` and its `metrics` row. */
  private def observeCut(name: String, df: DataFrame, parts: Int,
                         keys: Seq[String], metrics: Seq[Column]): (DataFrame, Row) = {
    def cutTo(d: DataFrame) = if (keys.isEmpty) cut(d) else cutKeyed(d, parts, keys: _*)
    if (metrics.isEmpty) (cutTo(df), Row.empty)
    else {
      val observed = df.observe(name, metrics.head, metrics.tail: _*)
      val next = cutTo(observed)
      (next, observation(observed, name, next, metrics))
    }
  }

  /** The `metrics` row observed as `name` on `observed`, or — when absent —
    * the same aggregate over its cut `next`.
    */
  private[core] def observation(observed: DataFrame, name: String,
                                next: DataFrame, metrics: Seq[Column]): Row =
    observedRow(observed, name)(next.agg(metrics.head, metrics.tail: _*).head)
}
