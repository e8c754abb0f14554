package graft.algos

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** PageRank with the exact semantics of the reference's
  * GraphBLAS/@GrB/pagerank.m:
  *  - damp=0.85, tol (inf-norm of r-prior < tol), maxit (pagerank.m:40-54)
  *  - unweighted: semiring +.2nd — each in-neighbor contributes r(i)/d(i)
  *    regardless of stored weight (pagerank.m:74-85)
  *  - out-degree d with sinks forced to d=1 (pagerank.m:97-104)
  *  - per-iteration: r = (1-damp)/n + damp*sinkMass/n + damp * Σ_{i→j} r(i)/d(i)
  *    (pagerank.m:113-142); sinkMass = Σ r(sinks) of the prior iteration
  *  - convergence via normdiff inf-norm (pagerank.m:143-150, normdiff.m:12-16)
  *
  * Spark shape (SURVEY.md §2.10): the adjacency is hash-partitioned by src
  * once and cached; the vertex STATE carries (id, r, d, isSink) so each
  * iteration is exactly one gather join (adj ⋈ state on src — both sides
  * already hash-partitioned on the key, no re-shuffle of the big side), one
  * scatter hash-agg on dst, one co-partitioned state join, and ONE driver
  * action: a fused aggregate computing the inf-norm delta AND the next
  * iteration's sink mass in the same pass (the analogue of the reference's
  * in-place dense accumulation, GB_AxB_dot4.c — no extra sweep over the
  * dense vector). The state is cut every iteration (Iterate.fixpoint); when
  * `checkpointDir` is set the vertex state is also written to parquet with per-partition lineage and `run` resumes from
  * the newest complete checkpoint (the north rule's resumable checkpoints).
  */
object PageRank {

  case class Result(ranks: DataFrame, iterations: Int, finalDelta: Double,
                    metrics: Seq[IterMetric])
  case class IterMetric(iter: Int, delta: Double, sinkMass: Double, millis: Long)

  /** @param edges        (src,dst,w) edge table (weights ignored: unweighted)
    * @param checkpointDir when set, vertex state is written to
    *                      `$dir/iter=%05d` every `checkpointEvery` iterations
    *                      with per-partition lineage, and `run` resumes from
    *                      the newest complete checkpoint found there.
    * @param skewSalts     salt-bucket count for hub-src skew in the gather
    *                      join (graft.core.Skew); applied only when a hot key
    *                      is actually detected. <= 0 disables detection.
    * @param weighted      pagerank.m:74-85: weighted=true multiplies each
    *                      contribution by the stored edge weight (+.* instead
    *                      of +.2nd); d stays the out-degree COUNT either way
    *                      (pagerank.m:97, GrB.entries 'degree'). Weighted
    *                      input must have unique (src,dst) entries.
    * @param grouped       gather over a CSR-like grouped adjacency — one row
    *                       per src with the dst list as an array (the north
    *                       star's "partitioned CSR-like grouped-adjacency
    *                       Dataset") instead of one row per edge. Same math:
    *                       the gather join probes n_src rows instead of |E|
    *                       and the cached scan drops the per-edge src
    *                       repetition; the explode happens inside the same
    *                       stage as the join, feeding the identical partial
    *                       hash-agg. Forced off for weighted runs and for the
    *                       hot-edge slice (a hub's dst array would be one
    *                       giant row; the hot slice is dst-spread + broadcast
    *                       anyway).
    * @param seeds         non-empty = PERSONALIZED PageRank: the teleport
    *                      distribution (and the sink-mass redistribution)
    *                      concentrates uniformly on the seed set instead of
    *                      1/n everywhere, and r starts as that distribution.
    *                      Same iteration algebra otherwise; the seed set is
    *                      query-sized (a watchlist, a topic), so it rides the
    *                      plan as an isin literal, never a join.
    */
  def run(spark: SparkSession, edges: DataFrame, damp: Double = 0.85,
          tol: Double = 1e-6, maxIter: Int = 100,
          checkpointDir: Option[String] = None, checkpointEvery: Int = 10,
          numPartitions: Int = 0, skewSalts: Int = 8,
          weighted: Boolean = false, seeds: Seq[Long] = Nil,
          grouped: Boolean = true, groupCap: Int = 65536): Result =
    // fixed layout + known partition counts: AQE only adds stage barriers
    Iterate.withoutAQE(spark)(runLoop(spark, edges, damp, tol, maxIter,
      checkpointDir, checkpointEvery, numPartitions, skewSalts, weighted, seeds,
      grouped && !weighted, groupCap))

  private def runLoop(spark: SparkSession, edges: DataFrame, damp: Double,
          tol: Double, maxIter: Int,
          checkpointDir: Option[String], checkpointEvery: Int,
          numPartitions: Int, skewSalts: Int,
          weighted: Boolean, seeds: Seq[Long], grouped: Boolean,
          groupCap: Int): Result = {
    val parts = Iterate.partitions(spark, numPartitions)
    val snapshots = Iterate.Snapshots(checkpointDir, checkpointEvery, Seq("id", "r"),
      tag = f"damp=$damp%.4f" +
        (if (seeds.isEmpty) "" else s";seeds=${seeds.sorted.mkString("_")}"),
      log = row => Seq("delta_e9" -> (getD(row, "delta") * 1e9).toLong))

    // edges partitioned by src and cached: the loop's reusable CSR side
    // (reference keeps A by-row; we keep the partitioning); unweighted runs
    // carry only the structure. distinct() AFTER repartition(src): hash(src)
    // satisfies ClusteredDistribution(src,dst) (subset rule), so the dedup
    // agg reuses the layout — ONE edge shuffle in setup, not two.
    // (A one-pipeline repartition→distinct→collect_list grouping was
    // prototyped this round — it saves this cache's write — but it groups
    // BEFORE hub detection, so an undetected 10⁹-degree hub would
    // materialize as one multi-GB collect_list buffer: the exact
    // executor-memory hazard the hot-split-then-group order exists to
    // avoid. Rejected; the flat cache stays.)
    val adjPlain = (if (weighted) edges.select(col("src"), col("dst"), col("w"))
                      .repartition(parts, col("src"))
                    else edges.select(col("src"), col("dst"))
                      .repartition(parts, col("src")).distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)

    // vertex universe with out-degree; sinks get d=1 (pagerank.m:97-104).
    // The out-degree agg is co-partitioned with the cached hash(src)
    // adjacency (zero exchange) and already CONTAINS every src id, so the
    // universe union is outDeg-ids ∪ dst-endpoints: the repartition+distinct
    // exchange carries |V_src| + |E| rows instead of r5's 2|E| src∪dst union
    // (guide §2.3 "shuffle fewer bytes"). A LEFT join (not full-outer) keeps
    // the reported output partitioning hash(id, parts) — full-outer SMJ
    // reports UnknownPartitioning, which would kick the initial state's
    // cutKeyed onto its re-layout slow path. Rows identical to r5: same id
    // set, same d / isSink rule.
    val outDeg = adjPlain.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("double").as("od"))
    val degrees = outDeg.select(col("id"))
      .unionByName(adjPlain.select(col("dst").as("id")))
      .repartition(parts, col("id")).distinct()
      .join(outDeg, Seq("id"), "left")
      .select(col("id"), coalesce(col("od"), lit(1.0)).as("d"),
        col("od").isNull.as("isSink"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = degrees.count()
    val nSeeds = seeds.size
    // personalized: teleport mass (and sink redistribution) lands on the
    // seed set only — the per-row base is a tiny isin literal, not a join
    val isSeed = if (seeds.isEmpty) lit(true) else col("id").isin(seeds: _*)

    // hub-src skew (graft.core.Skew hot-key isolation): cold edges keep the
    // src partitioning (co-partitioned with the state, zero exchange); the
    // few hot srcs' edges are salt-spread across partitions by dst and join
    // a per-iteration BROADCAST of the tiny hot state slice. Identical
    // results, no straggler task, no extra data-sized exchange.
    // hot-key detection reads the CACHED degrees table (od per src is exactly
    // Skew.hotKeys' per-key count on the flat edges) instead of re-aggregating
    // the edge table — the threshold/cap policy itself lives in ONE place
    // (Skew.hotKeysFromCounts), shared with every other hotKeys caller
    val hot: Seq[Any] = if (skewSalts <= 0) Seq.empty[Any] else
      graft.core.Skew.hotKeysFromCounts(
        degrees.filter(!col("isSink")).select(col("id"), col("d")),
        "id", "d",
        total = adjPlain.count(), // cache hit: materialized by degrees above
        parts = parts)
    val (adjFlat, adjHot) = if (hot.isEmpty) (adjPlain, None) else {
      // the cold slice keeps the cached layout: FilterExec preserves its
      // child's hash(src, parts) partitioning, so r5's explicit cold-side
      // repartition was a redundant |E|-row exchange — dropped
      val cold = adjPlain.filter(!col("src").isin(hot: _*))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val hotE = adjPlain.filter(col("src").isin(hot: _*))
        .repartition(parts, col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
      cold.count(); hotE.count() // materialize before dropping the unsplit copy
      adjPlain.unpersist(false)
      (cold, Some(hotE))
    }
    // CSR-like grouped adjacency for the cold gather side: one row per src
    // with the dst array. The groupBy is exchange-free (adjFlat is already
    // hash(src, parts)) and the result keeps that partitioning, so the
    // per-iteration join stays co-partitioned. Srcs whose adjacency list
    // exceeds `groupCap` stay as flat per-edge rows (adjRest): a grouped hub
    // would put millions of dsts into ONE row — a single-task straggler (and
    // at scale an executor-memory hazard) precisely when skew detection is
    // disabled and hubs are NOT already isolated into the hot slice.
    val (adj, adjRest) = if (!grouped) (adjFlat, None) else {
      // whether any COLD src exceeds the cap is already answered by the
      // cached degrees table (hot srcs were split off above) — one cheap
      // n-row pass instead of re-running the grouping aggregation
      val restEmpty = degrees
        .filter(col("d") > groupCap && !col("id").isin(hot: _*)).isEmpty
      val g0raw = adjFlat.groupBy(col("src"))
        .agg(collect_list(col("dst")).as("dsts"))
      // with over-cap srcs present, BOTH splits read g0 — persist it so the
      // grouping pass over the cold edges runs once, not once per split
      val g0 = if (restEmpty) g0raw
               else g0raw.persist(StorageLevel.MEMORY_AND_DISK)
      val g = (if (restEmpty) g0 else g0.filter(size(col("dsts")) <= groupCap))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val rest = if (restEmpty) None else Some(
        g0.filter(size(col("dsts")) > groupCap)
          .select(col("src"), explode(col("dsts")).as("dst"))
          .persist(StorageLevel.MEMORY_AND_DISK))
      g.count(); rest.foreach(_.count()) // materialize before dropping flat
      if (!restEmpty) g0.unpersist(false)
      adjFlat.unpersist(false)
      (g, rest)
    }

    // PPR starts from the seed distribution itself (pagerank.m:60 starts
    // uniform; with a seeded teleport the analogous start is the teleport
    // distribution)
    val initR = if (seeds.isEmpty) lit(1.0 / n)
                else when(isSeed, lit(1.0 / nSeeds)).otherwise(lit(0.0))
    val sinkMass = sum(when(col("isSink"), col("r"))).as("sinkMass")

    // state = (id, r, d, isSink), dense over the vertex universe, cut keyed
    // on id each iteration (graft.core.Iterate). Fresh starts derive r in the
    // SAME projection over the cached degrees; only a checkpoint resume,
    // whose r comes from parquet, pays the join. The convergence test is the
    // inf-norm delta (normdiff.m:12-16).
    val fp = Iterate.fixpoint(
      degrees.select(col("id"), initR.as("r"), col("d"), col("isSink")),
      parts, Seq("id"), maxIter,
      metrics = Seq(max(abs(col("r") - col("rp"))).as("delta"), sinkMass),
      initMetrics = Seq(sinkMass),
      checkpoint = snapshots.copy(resume = r0 => degrees.join(r0, Seq("id"))
          .select(col("id"), col("r"), col("d"), col("isSink")))) {
      (state, _, prev) =>
        val mass = getD(prev, "sinkMass")
        // uniform: every vertex gets (1-d)/n + d*sinkMass/n; personalized:
        // only seeds get (1-d)/|S| + d*sinkMass/|S|, everyone else 0
        val base = if (seeds.isEmpty) (1.0 - damp) / n + damp * mass / n
                   else (1.0 - damp) / nSeeds + damp * mass / nSeeds
        val baseExpr = if (seeds.isEmpty) lit(base)
                       else when(isSeed, lit(base)).otherwise(lit(0.0))

        // gather r(src)/d(src) along edges, scatter-add into dst
        // (semiring +.2nd over the structural adjacency); hot-src edges join
        // a broadcast of the few hot state rows so no single task owns a hub
        val stateT = state.select(col("id").as("src"), (col("r") / col("d")).as("t"))
        val term = if (weighted) col("t") * col("w") else col("t") // +.* vs +.2nd
        // grouped: co-partitioned join probes one row per src, the dst array
        // explodes inside the same stage straight into the partial hash-agg
        val coldGrouped =
          if (grouped) Iterate.gather(adj, stateT)
            .select(explode(col("dsts")).as("dst"), col("t").as("c"))
          else Iterate.gather(adj, stateT).select(col("dst"), term.as("c"))
        // over-cap srcs gather as flat per-edge rows (co-partitioned join too)
        val coldGather = adjRest match {
          case None => coldGrouped
          case Some(r) => coldGrouped.unionByName(
            Iterate.gather(r, stateT).select(col("dst"), col("t").as("c")))
        }
        val gathered = adjHot match {
          case None => coldGather
          case Some(h) => coldGather.unionByName(
            h.join(broadcast(stateT.filter(col("src").isin(hot: _*))), Seq("src"))
              .select(col("dst"), term.as("c")))
        }
        val contrib = gathered.groupBy(col("dst").as("id")).agg(sum(col("c")).as("s"))
        state.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (baseExpr + lit(damp) * coalesce(col("s"), lit(0.0))).as("r"),
            col("r").as("rp"), col("d"), col("isSink"))
    } { (_, row) => !(getD(row, "delta") >= tol) }

    adj.unpersist(false); adjHot.foreach(_.unpersist(false))
    adjRest.foreach(_.unpersist(false))
    degrees.unpersist(false)
    val metrics = fp.trace.map(s =>
      IterMetric(s.iter, getD(s.row, "delta"), getD(s.row, "sinkMass"), s.millis))
    Result(fp.state.select(col("id"), col("r")), fp.iter,
      metrics.lastOption.fold(Double.PositiveInfinity)(_.delta), metrics)
  }

  private def getD(row: Row, field: String): Double =
    Iterate.double(row, row.fieldIndex(field))

  /** Fixed-iteration-count variant with no early exit — used by the unrolled
    * SQL oracle (same math, k iterations exactly).
    */
  def runFixed(spark: SparkSession, edges: DataFrame, k: Int, damp: Double = 0.85,
               weighted: Boolean = false, seeds: Seq[Long] = Nil): DataFrame =
    run(spark, edges, damp = damp, tol = 0.0, maxIter = k, weighted = weighted,
      seeds = seeds).ranks

  /** BATCHED multi-persona personalized PageRank, k fixed iterations — the
    * GraphBLAS "multiple right-hand sides" pattern (SpMM over N dense
    * vectors, GrB_mxm where [[run]] is mxv): every persona advances in the
    * SAME loop, so the adjacency is scanned ONCE per round — not once per
    * persona — and the state is the SPARSE (pid, id, r) table:
    * off-support vertices hold exact 0.0 and are never materialized (the
    * sparse-accumulator story; a persona's support only grows along real
    * paths). Per-iteration math is IDENTICAL to [[run]] with `seeds`:
    * teleport and sink mass land on the persona's seed set only.
    * Returns (pid, id, r) for every nonzero entry after k rounds.
    *
    * Scale shape: one co-partitioned gather join + one (pid, dst) combine
    * per round; the per-persona sink masses and seed bases are |personas|-
    * and |seeds|-row broadcasts. Lineage is cut per iteration.
    */
  def pprMulti(spark: SparkSession, edges: DataFrame,
               personas: Seq[(Long, Seq[Long])], k: Int = 5,
               damp: Double = 0.85): DataFrame = {
    require(k >= 1 && personas.nonEmpty, "pprMulti needs k >= 1 and personas")
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val adj = edges.select(col("src"), col("dst"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = adj.select(col("src").as("id"))
      .unionByName(adj.select(col("dst").as("id"))).distinct()
    val deg = verts.join(
        adj.groupBy(col("src").as("id")).agg(count(lit(1)).cast("double").as("d")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("d"), lit(1.0)).as("d"),
        col("d").isNull.as("sink"))
      .repartition(parts, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seeds = personas
      .flatMap { case (p, ss) => ss.distinct.map(s => (p, s, ss.distinct.size)) }
      .toDF("pid", "id", "ns")
      .join(verts, Seq("id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fp = Iterate.fixpoint(seeds.select(col("pid"), col("id"),
        (lit(1.0) / col("ns").cast("double")).as("r")), parts, Nil, k) {
      (state, _, _) =>
        val sinkMass = state.join(deg.filter(col("sink")), Seq("id"), "left_semi")
          .groupBy("pid").agg(sum(col("r")).as("m"))
        val contrib = adj
          .join(state.select(col("id").as("src"), col("pid"), col("r"))
            .join(deg.select(col("id").as("src"), col("d")), Seq("src")), Seq("src"))
          .groupBy(col("pid"), col("dst"))
          .agg(sum(col("r") / col("d")).as("c"))
          .withColumnRenamed("dst", "id")
        val base = seeds.join(broadcast(sinkMass), Seq("pid"), "left")
          .select(col("pid"), col("id"),
            (lit(1.0 - damp) / col("ns").cast("double")
              + lit(damp) * coalesce(col("m"), lit(0.0)) / col("ns").cast("double"))
              .as("base"))
        base.join(contrib, Seq("pid", "id"), "full_outer")
          .select(col("pid"), col("id"),
            (coalesce(col("base"), lit(0.0))
              + lit(damp) * coalesce(col("c"), lit(0.0))).as("r"))
    } { (_, _) => false }
    adj.unpersist(false); deg.unpersist(false); seeds.unpersist(false)
    fp.state
  }
}
