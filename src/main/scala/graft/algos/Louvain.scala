package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Iterate

/** Distributed Louvain community detection (Blondel et al. 2008), the
  * standard modularity-maximizing community finder for web-scale graphs —
  * the synchronous variant used by Pregel-style systems: a label-moving
  * phase where every vertex considers moving to the neighboring community
  * with the best modularity gain, then a CONTRACTION of communities into
  * super-vertices, recursing level by level until no move improves Q.
  *
  * Determinism and exactness:
  *   - move scoring never touches floats: ΔQ(v→c) > ΔQ(v→c') iff
  *     2m·w_vc − deg(v)·vol'(c) differs — an INTEGER comparison (weights
  *     are integral; computed in decimal(38,0) so 10¹²-edge graphs can't
  *     overflow); ties prefer the smaller community id, and a vertex moves
  *     only on a strict improvement over staying.
  *   - synchronous swap oscillation (two adjacent vertices trading places
  *     forever) is broken the standard way: only the parity class matching
  *     the round moves (even ids on even rounds) — deterministic, and the
  *     phase stops when a full even+odd sweep makes zero moves.
  *
  * Scale shape per round: one (edge ⋈ label) gather + one (v, community)
  * aggregation + one broadcast-sized community-volume table join — all
  * equi-key on the vertex/community partitioning; contraction is one
  * groupBy over relabeled edges that SHRINKS the data every level. Nothing
  * is ever quadratic; labels live in cutKeyed leaves.
  *
  * Output: (id, community), community = min ORIGINAL vertex id of the final
  * community (engine-independent normalization).
  */
object Louvain {

  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int = 64,
          maxLevels: Int = 8, numPartitions: Int = 0,
          localThreshold: Long = 100000L): DataFrame =
    runCounted(spark, edges, maxRounds, maxLevels, numPartitions,
      localThreshold)._1

  /** run() plus the number of levels used.
    *
    * `localThreshold`: once the (contracted) graph has ≤ this many edges,
    * the remaining levels run single-task on the driver with the IDENTICAL
    * schedule (same parity rounds, same integer scores, same tie-breaks —
    * unit-locked to produce the same labels as the distributed phase).
    * This is the standard Louvain scale shape: contraction shrinks the
    * graph geometrically, so a 10¹²-edge input is below any reasonable
    * threshold after a level or two, and finishing locally avoids paying
    * tens of tiny all-cluster rounds on data that fits in one task. Set 0
    * to force every level distributed.
    */
  def runCounted(spark: SparkSession, edges: DataFrame, maxRounds: Int = 64,
                 maxLevels: Int = 8, numPartitions: Int = 0,
                 localThreshold: Long = 100000L): (DataFrame, Int) =
    Iterate.withoutAQE(spark)(levels(spark, edges, maxRounds, maxLevels,
      numPartitions, localThreshold))

  /** The level-1 move phase alone, with a fixed round budget, labels
    * normalized to the min original member id — the oracle-backed twin of
    * [[run]]. A fixed k is SQL-replayable because after a quiet even+odd
    * sweep every later round is the identity (the state, hence every score,
    * is unchanged and moves need STRICT improvement), so stopping early
    * (what [[movePhase]] does) and unrolling exactly k rounds yield the
    * same labels. Same integer ΔQ schedule bit for bit.
    */
  def level1(spark: SparkSession, edges: DataFrame, rounds: Int = 6,
             numPartitions: Int = 0): DataFrame = Iterate.withoutAQE(spark) {
    val parts = Iterate.partitions(spark, numPartitions)
    val w0 = if (edges.columns.contains("w")) col("w").cast("long") else lit(1L)
    val g = Iterate.cutKeyed(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"), w0.as("w"))
        .groupBy("a", "b").agg(sum("w").as("w")),
      parts, "a")
    val (comm, _) = movePhase(spark, g, rounds, parts, level = 1)
    val rep = comm.groupBy(col("cNew").as("c"))
      .agg(min(col("id")).as("community"))
    val out = comm.select(col("id"), col("cNew").as("c"))
      .join(rep, Seq("c")).select(col("id"), col("community"))
    out.cache(); out.count()
    Iterate.free(g)
    out
  }

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  private def levels(spark: SparkSession, edges: DataFrame, maxRounds: Int,
                     maxLevels: Int, numPartitions: Int,
                     localThreshold: Long): (DataFrame, Int) = {
    val parts = Iterate.partitions(spark, numPartitions)

    // level-0 graph: canonical a<=b, integral weights (w column optional)
    val w0 = if (edges.columns.contains("w")) col("w").cast("long") else lit(1L)
    var g = Iterate.cutKeyed(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"), w0.as("w"))
        .groupBy("a", "b").agg(sum("w").as("w")),
      parts, "a")

    // vertex -> current top-level community, composed across levels
    var mapping = Iterate.cutKeyed(
      g.select(col("a").as("id")).unionByName(g.select(col("b").as("id")))
        .distinct().select(col("id"), col("id").as("c")), parts, "id")

    var level = 0
    var improved = true
    var nEdges = g.count()
    while (improved && level < maxLevels && nEdges > localThreshold) {
      level += 1
      val (comm, moves) = movePhase(spark, g, maxRounds, parts, level)
      improved = moves > 0
      if (improved) {
        // compose the mapping, contract the graph, recurse
        val newMapping = Iterate.cutKeyed(
          mapping.join(comm.select(col("id").as("c"), col("cNew")), Seq("c"))
            .select(col("id"), col("cNew").as("c")), parts, "id")
        val contracted = Iterate.cutKeyed(
          g.join(comm.select(col("id").as("a"), col("cNew").as("ca")), Seq("a"))
            .join(comm.select(col("id").as("b"), col("cNew").as("cb")), Seq("b"))
            .select(least(col("ca"), col("cb")).as("a"),
              greatest(col("ca"), col("cb")).as("b"), col("w"))
            .groupBy("a", "b").agg(sum("w").as("w")),
          parts, "a")
        Iterate.free(mapping); Iterate.free(g); Iterate.free(comm)
        mapping = newMapping
        g = contracted
        nEdges = g.count()
      } else {
        Iterate.free(comm)
      }
    }

    if (improved && level < maxLevels && nEdges <= localThreshold) {
      // finish locally: identical schedule, one task's worth of data
      import spark.implicits._
      val es = g.select(col("a"), col("b"), col("w")).as[(Long, Long, Long)]
        .collect()
      val (localMap, lvls) = localLevels(es, maxRounds, maxLevels - level)
      level += lvls
      val localDf = localMap.toSeq.toDF("c", "cFinal")
      val newMapping = Iterate.cutKeyed(
        mapping.join(localDf, Seq("c"))
          .select(col("id"), col("cFinal").as("c")), parts, "id")
      Iterate.free(mapping)
      mapping = newMapping
    }
    Iterate.free(g)

    // normalize the community label to the min original member id
    val rep = mapping.groupBy("c").agg(min(col("id")).as("community"))
    val out = mapping.join(rep, Seq("c")).select(col("id"), col("community"))
    (out, level)
  }

  /** Driver-local levels over a small (contracted) graph — the SAME
    * schedule as [[movePhase]] bit for bit: parity-gated synchronous moves,
    * strict integer ΔQ improvement (BigInt — the distributed side's
    * decimal(38,0)), min-community tie-break, stop after a quiet even+odd
    * sweep, contract, repeat. Returns (vertex→final community, levels).
    */
  private def localLevels(edges0: Array[(Long, Long, Long)], maxRounds: Int,
                          maxLevels: Int): (Map[Long, Long], Int) = {
    var es = edges0.groupBy(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .map { case ((a, b), g) => (a, b, g.map(_._3).sum) }.toArray
    var mapping: Map[Long, Long] =
      es.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> v).toMap
    var level = 0
    var improved = true
    while (improved && level < maxLevels) {
      level += 1
      val verts = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val deg = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      es.foreach { case (a, b, w) =>
        if (a == b) deg(a) += 2 * w else { deg(a) += w; deg(b) += w }
      }
      val m2 = BigInt(deg.values.sum)
      val comm = scala.collection.mutable.Map[Long, Long](verts.map(v => v -> v): _*)
      var sinceMove = 0
      var round = 0
      var phaseMoves = 0L
      val und = es.filter(e => e._1 != e._2)
        .flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
        .groupBy(_._1).map { case (v, g) => v -> g.map(t => (t._2, t._3)) }
      while (sinceMove < 2 && round < maxRounds) {
        round += 1
        val vol = scala.collection.mutable.Map[Long, BigInt]().withDefault(_ => BigInt(0))
        verts.foreach(v => vol(comm(v)) += BigInt(deg(v)))
        var moves = 0L
        val moved = verts.map { v =>
          val cur = comm(v)
          val wvc = scala.collection.mutable.Map[Long, BigInt]().withDefault(_ => BigInt(0))
          wvc(cur) += 0 // stay is always a candidate
          und.getOrElse(v, Array()).foreach { case (u, w) => wvc(comm(u)) += BigInt(w) }
          def score(c: Long): BigInt = {
            val volP = vol(c) - (if (c == cur) BigInt(deg(v)) else BigInt(0))
            m2 * wvc(c) - BigInt(deg(v)) * volP
          }
          val best = wvc.keys.toSeq.map(c => (score(c), c))
            .maxBy { case (s, c) => (s, -c) }
          if (best._1 > score(cur) && best._2 != cur && v % 2 == round % 2) {
            moves += 1; v -> best._2
          } else v -> cur
        }.toMap
        moved.foreach { case (v, c) => comm(v) = c }
        phaseMoves += moves
        sinceMove = if (moves == 0) sinceMove + 1 else 0
      }
      improved = phaseMoves > 0
      if (improved) {
        mapping = mapping.map { case (v, c) => v -> comm(c) }
        es = es.map { case (a, b, w) =>
          val (ca, cb) = (comm(a), comm(b))
          (math.min(ca, cb), math.max(ca, cb), w)
        }.groupBy(e => (e._1, e._2))
          .map { case ((a, b), g) => (a, b, g.map(_._3).sum) }.toArray
      }
    }
    (mapping, level)
  }

  /** One label-moving phase over graph `g` (a<=b, weighted, self-loops =
    * intra-community mass from contraction). Returns ((id, cNew), total
    * number of moves across the phase).
    */
  private def movePhase(spark: SparkSession, g: DataFrame, maxRounds: Int,
                        parts: Int, level: Int): (DataFrame, Long) = {
    val selfW = g.filter(col("a") === col("b"))
      .select(col("a").as("id"), col("w").as("sw"))
    val undE = g.filter(col("a") =!= col("b"))
    val und = undE.select(col("a").as("v"), col("b").as("u"), col("w"))
      .unionByName(undE.select(col("b").as("v"), col("a").as("u"), col("w")))
      .repartition(parts, col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // deg(v) = Σ_u≠v w(vu) + 2·w(vv); 2m = Σ deg — both exact longs
    val deg = Iterate.cutKeyed(
      und.groupBy(col("v").as("id")).agg(sum("w").as("dv"))
        .join(selfW, Seq("id"), "full")
        .select(col("id"),
          (coalesce(col("dv"), lit(0L)) + lit(2L) * coalesce(col("sw"), lit(0L)))
            .as("deg")),
      parts, "id")
    val m2 = deg.agg(sum(dec(col("deg")))).head.getDecimal(0)

    var comm = Iterate.cutKeyed(deg.select(col("id"), col("id").as("c")),
      parts, "id")
    var totalMoves = 0L
    var sinceMove = 0 // rounds in a row with zero moves (need 2: even+odd)
    var round = 0

    while (sinceMove < 2 && round < maxRounds) {
      round += 1
      // community volumes (vol(c) = Σ deg of members)
      val vol = comm.join(deg, Seq("id"))
        .groupBy("c").agg(sum(dec(col("deg"))).as("vol"))
      // w_vc for every (vertex, neighboring community); include v's own
      // community via a zero-weight seed so "stay" is always a candidate
      val wvc = und
        .join(comm.select(col("id").as("u"), col("c")), Seq("u"))
        .groupBy(col("v").as("id"), col("c")).agg(sum(dec(col("w"))).as("wc"))
        .unionByName(comm.select(col("id"), col("c"),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)").as("wc")))
        .groupBy("id", "c").agg(sum(col("wc")).as("wc"))
      // score(c) = 2m·w_vc − deg(v)·vol'(c); vol' excludes v itself when
      // c is v's current community
      val scored = wvc
        .join(comm.select(col("id"), col("c").as("cur")), Seq("id"))
        .join(deg, Seq("id"))
        .join(vol, Seq("c"))
        .select(col("id"), col("c"), col("cur"), col("deg"),
          (lit(m2) * col("wc") -
            dec(col("deg")) * (col("vol") -
              when(col("c") === col("cur"), dec(col("deg")))
                .otherwise(lit(java.math.BigDecimal.ZERO))))
            .as("score"))
      // per vertex: the best (score desc, community asc) candidate; move on
      // STRICT improvement, and only for this round's parity class
      val best = scored
        .groupBy("id").agg(
          max(struct(col("score"), (-col("c")).as("nc"))).as("bs"),
          first(col("cur")).as("cur"), first(col("deg")).as("deg"))
        .select(col("id"), col("cur"),
          col("bs.score").as("bestScore"), (-col("bs.nc")).as("bestC"))
      val stay = scored.filter(col("c") === col("cur"))
        .select(col("id"), col("score").as("stayScore"))
      val wouldMove = col("bestScore") > col("stayScore") &&
        col("bestC") =!= col("cur") &&
        pmod(col("id"), lit(2L)) === lit((round % 2).toLong)
      val decide = best.join(stay, Seq("id"))
        .select(col("id"),
          when(wouldMove, col("bestC")).otherwise(col("cur")).as("c"),
          wouldMove.as("moved"))
        .observe(s"louvain_${level}_$round",
          sum(when(col("moved"), 1L).otherwise(0L)).as("moves"))
      // cut decide ITSELF (observed-metrics contract); `moved` rides along
      // in the leaf and is ignored by the next round's selects
      val next = Iterate.cutKeyed(decide, parts, "id")
      val moves = Iterate.observedLong(decide, s"louvain_${level}_$round")(
        next.filter(col("moved")).count())
      totalMoves += moves
      sinceMove = if (moves == 0) sinceMove + 1 else 0
      Iterate.free(comm)
      comm = next
    }
    und.unpersist(false)
    (comm.select(col("id"), col("c").as("cNew")), totalMoves)
  }
}
