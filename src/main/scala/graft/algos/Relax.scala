package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Iterate

/** The delta-frontier semiring relaxation shared by the single-source path
  * and layering algorithms: the reference's BFS step
  * q<¬v,replace> = q·A (GraphBLAS/@GrB/bfs.m:136-140) generalised to any
  * (min|max, ⊗) semiring and run to a fixpoint — Bellman-Ford with a
  * frontier, as in SSSP (min,+w), WidestPath (max,min w), TemporalReach
  * (min, ts gated by ts > arrival), Toposort (max,+1), BFS (min,+1 with the
  * parent riding along) and plain reachability (min,+0).
  *
  * The state is (id, value columns…, chg), one [[Iterate.fixpoint]] state
  * keyed on id; `chg` marks the vertices whose value improved last round
  * (every seed vertex at the start), which is the frontier — the mask of
  * the masked vxm. Each round:
  *  1. gathers the frontier `state.filter(chg)` along the src-partitioned
  *     adjacency `adj` (src, dst, edge columns…) — a co-partitioned join —
  *     keeping the edges that pass `gate`;
  *  2. aggregates `cand` by dst with the semiring's add (min, or max when
  *     `maximize`);
  *  3. merges the result into the state: a vertex takes the candidate and
  *     sets `chg` where it is strictly better, and a vertex reached for the
  *     first time is added with `chg` set.
  * It stops when no vertex changed (`count(chg)` is the observed metric) or
  * after `maxIter` rounds. With several value columns the order is
  * lexicographic over them and `cand` is a struct with the same field names
  * (BFS: (level, parent)).
  *
  * Per round that is one Spark job: one exchange (the dst aggregate) and the
  * keyed cut of the merged state; the adjacency never moves. After round k
  * the values equal k rounds of full (every-edge) relaxation, because a
  * vertex that did not change re-offers only candidates already applied.
  *
  * `checkpoint` supplies the directory, cadence, run tag and log fields;
  * its snapshot columns and resume are the relaxation's own — a resumed run
  * restarts with every snapshot vertex on the frontier, which re-derives
  * nothing but the true frontier's candidates.
  */
private[algos] object Relax {

  def apply(adj: DataFrame, seed: DataFrame, parts: Int, maxIter: Int,
            maximize: Boolean = false, gate: Column = lit(true),
            checkpoint: Iterate.Snapshots = Iterate.Snapshots.off)(
      cand: Column): Iterate.Fixpoint = {
    val vals = seed.columns.toSeq.filter(_ != "id")
    val cur = if (vals.size == 1) col(vals.head) else struct(vals.map(col): _*)
    def field(v: String): Column = if (vals.size == 1) col("nv") else col("nv").getField(v)
    val better = if (maximize) col("nv") > cur else col("nv") < cur
    val add = if (maximize) max(cand) else min(cand)
    // every seed vertex on the frontier, laid out on the state's key so the
    // first cut needs no second pass
    def allChanged(d: DataFrame) = d.select(col("id") +: vals.map(col) :+ lit(true).as("chg"): _*)
      .repartition(parts, col("id"))

    Iterate.withoutAQE(seed.sparkSession)(Iterate.fixpoint(allChanged(seed), parts, Seq("id"),
        maxIter, metrics = Seq(sum(when(col("chg"), 1L).otherwise(0L)).as("n")),
        checkpoint = checkpoint.copy(cols = "id" +: vals, resume = allChanged)) {
      (state, _, _) =>
        // the frontier keeps the state's layout, so the gather is
        // co-partitioned (Iterate.gather: no re-broadcast adjacency)
        val frontier = state.filter(col("chg"))
          .select(col("id").as("src") +: vals.map(col): _*)
        val nv = Iterate.gather(adj, frontier).filter(gate)
          .groupBy(col("dst").as("id")).agg(add.as("nv"))
        val kept = state.join(nv, Seq("id"), "left")
          .select(col("id") +: vals.map(v => when(better, field(v)).otherwise(col(v)).as(v)) :+
            coalesce(better, lit(false)).as("chg"): _*)
        val added = nv.join(state, Seq("id"), "left_anti")
          .select(col("id") +: vals.map(v => field(v).as(v)) :+ lit(true).as("chg"): _*)
        // both sides are laid out by id and Spark's union keeps a layout its
        // children share, so the keyed cut takes the merge as it is (a full
        // outer join would not report one and would be cut twice)
        kept.unionByName(added)
    } { (_, row) => Iterate.long(row, 0) == 0L })
  }

  /** Changed-vertex count of the last round run, 0 when none ran. */
  def lastChanged(fp: Iterate.Fixpoint): Long =
    fp.trace.lastOption.fold(0L)(s => Iterate.long(s.row, 0))

  /** Whether the run reached its fixpoint: its last round changed nothing. */
  def settled(fp: Iterate.Fixpoint): Boolean = fp.trace.nonEmpty && lastChanged(fp) == 0L
}
