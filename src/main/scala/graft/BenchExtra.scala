package graft

import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Round-6 optimization harness (guide §1.4): noop-sink isolation and plan
  * capture for individual SparkEntry queries, SEPARATE from the frozen
  * graft.Bench so the driver's timing methodology is untouched.
  *
  * Usage (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench):
  *
  *   runMain graft.BenchExtra time q1 q2 ...     — per-query wall times,
  *     `GRAFT_EXTRA_REPS` samples each (default 2), timed over a noop write
  *     (computes every column of every row, no sink cost — guide §1.4),
  *     caches dropped between runs exactly like Bench's query phase.
  *   runMain graft.BenchExtra explain OUTDIR SUFFIX q1 q2 ... — writes
  *     OUTDIR/<query>_<SUFFIX>.txt with .explain("formatted") output.
  *
  * Prints one JSON line {"query": {"samples": [..], "min": s}} for `time`.
  */
object BenchExtra {

  private def jn(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** Plan probes for queries whose query-map frame hides the interesting
    * plan behind an internal driver action (e.g. algo_tricount returns a
    * 1-row local frame): these rebuild the CORE join/agg frame the
    * algorithm executes so `explain` captures the real shape.
    */
  private def probes: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.{DataFrame, SparkSession => SS}
    import org.apache.spark.storage.StorageLevel

    def canonOf(s: SS, d: String): DataFrame = {
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      SparkEntry.edgesSup(s, d).select(
          least(col("src"), col("dst")).as("lo"),
          greatest(col("src"), col("dst")).as("hi"))
        .filter(col("lo") =!= col("hi")).distinct()
        .repartition(parts, col("lo"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    // the r5 co-supplier derivation (no pre-join distinct), for before-plans
    def edgesSupR5(s: SS, d: String): DataFrame = {
      val l = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      l.as("a").join(l.as("b"),
          col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("src"), col("b.sk").as("dst")).distinct()
        .withColumn("w", lit(1.0))
    }

    Map(
      "algo_tricount_core" -> ((s, d) =>
        graft.algos.TriangleCount.closedWedges(s, canonOf(s, d),
          s.conf.get("spark.sql.shuffle.partitions").toInt)),
      // r5 shape: un-sized partitions aside (the old code mutated the session
      // conf), the closing semi-join is a 2-long-struct-key join with NO
      // broadcast hint — the 1.66e8-row wedge stream crosses an exchange
      "algo_tricount_core_r5" -> ((s, d) => {
        val canon = canonOf(s, d)
        val e1 = canon.select(col("lo").as("a"), col("hi").as("b"))
        val e2 = canon.select(col("lo").as("b"), col("hi").as("c"))
        e1.join(e2, Seq("b")).select(col("a"), col("c"))
          .join(canon.select(col("lo").as("a"), col("hi").as("c")),
            Seq("a", "c"), "left_semi")
      }),
      "edges_sup" -> ((s, d) => SparkEntry.edgesSup(s, d)),
      "edges_sup_r5" -> ((s, d) => edgesSupR5(s, d)),
      // CC/BFS/LPA setup fusion: repartition-then-distinct (1 exchange) vs
      // r5's distinct-then-repartition (2)
      "cc_setup" -> ((s, d) => {
        val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
        val e = SparkEntry.edgesSup(s, d)
        e.select(col("src"), col("dst"))
          .union(e.select(col("dst").as("src"), col("src").as("dst")))
          .repartition(parts, col("src")).distinct()
      }),
      "cc_setup_r5" -> ((s, d) => {
        val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
        val e = edgesSupR5(s, d)
        e.select(col("src"), col("dst"))
          .union(e.select(col("dst").as("src"), col("src").as("dst")))
          .distinct().repartition(parts, col("src"))
      }),
      // PageRank degree/universe setup: full-outer of co-partitioned outdeg
      // and dst-set (one 1×-edges exchange) vs r5's src∪dst union (2×-edges)
      "pr_degrees" -> ((s, d) => {
        val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
        val adj = SparkEntry.edgesBi(s, d).select(col("src"), col("dst"))
          .repartition(parts, col("src")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        val outDeg = adj.groupBy(col("src").as("id"))
          .agg(count(lit(1)).cast("double").as("od"))
        outDeg.select(col("id"))
          .unionByName(adj.select(col("dst").as("id")))
          .repartition(parts, col("id")).distinct()
          .join(outDeg, Seq("id"), "left")
          .select(col("id"), coalesce(col("od"), lit(1.0)).as("d"),
            col("od").isNull.as("isSink"))
      }),
      "pr_degrees_r5" -> ((s, d) => {
        val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
        val adj = SparkEntry.edgesBi(s, d).select(col("src"), col("dst"))
          .repartition(parts, col("src")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        adj.select(col("src").as("id"))
          .union(adj.select(col("dst").as("id")))
          .repartition(parts, col("id")).distinct()
          .join(adj.groupBy(col("src").as("id"))
            .agg(count(lit(1)).cast("double").as("od")), Seq("id"), "left")
          .select(col("id"), coalesce(col("od"), lit(1.0)).as("d"),
            col("od").isNull.as("isSink"))
      }),
      // edgeSupport: one explode pass vs the r5 3-way union of projections
      "edge_support_r5" -> ((s, d) => {
        val canon = SparkEntry.edgesSup(s, d)
          .select(col("src").as("lo"), col("dst").as("hi"))
        val e1 = canon.select(col("lo").as("a"), col("hi").as("b"))
        val e2 = canon.select(col("lo").as("b"), col("hi").as("c"))
        val tri = e1.join(e2, Seq("b"))
          .join(canon.select(col("lo").as("a"), col("hi").as("c")),
            Seq("a", "c"), "left_semi")
        tri.select(col("a").as("lo"), col("b").as("hi"))
          .union(tri.select(col("b").as("lo"), col("c").as("hi")))
          .union(tri.select(col("a").as("lo"), col("c").as("hi")))
          .groupBy("lo", "hi").agg(count(lit(1)).as("support"))
      }),
      // r5 dedup_minhash (no bucket cache): the signature pipeline repeats
      "dedup_minhash_r5" -> ((s, d) => {
        val docs = s.read.parquet(s"$d/documents.parquet")
        val sh = graft.pipeline.Dedup.shingles(docs, 3).cache()
        val sigs = graft.pipeline.Dedup.minhashSignatures(sh, 32)
        val buckets = graft.pipeline.Dedup.minhashBuckets(sigs, 8)
        val capped = buckets.join(
          buckets.groupBy(col("band"), col("bkt")).agg(count(lit(1)).as("pop"))
            .filter(col("pop") <= 1000).select(col("band"), col("bkt")),
          Seq("band", "bkt"), "left_semi")
        val cands = capped.as("x").join(capped.as("y"),
            col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
              col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .agg(count(lit(1)).as("bands_hit"))
        graft.pipeline.Dedup.jaccardVerify(sh, cands, 0.5)
      }))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(4, Runtime.getRuntime.availableProcessors()).toString).toInt
    val reps = sys.env.getOrElse("GRAFT_EXTRA_REPS", "2").toInt
    val spark = Bench.session(cpus)

    args.toList match {
      // `count` replicates the frozen Bench query phase action exactly
      // (fn(spark, sfDir).count() + dropCaches) for apples-to-apples A/Bs
      // against driver runs; `time` uses the noop sink (guide §1.4), which
      // computes EVERY column (no count-driven pruning) — use it to time the
      // full materialized transformation.
      case ("time" | "count") :: names if names.nonEmpty =>
        val useNoop = args(0) == "time"
        val out = names.map { name =>
          val fn = SparkEntry.queries.getOrElse(name,
            sys.error(s"unknown query $name"))
          spark.sparkContext.setJobDescription(s"extra:$name")
          val samples = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            if (useNoop) df.write.format("noop").mode("overwrite").save()
            else df.count()
            val t = (System.nanoTime() - t0) / 1e9
            Bench.dropCaches(spark)
            t
          }
          name -> samples
        }
        val json = out.map { case (n, ss) =>
          "\"" + n + "\":{\"samples\":[" + ss.map(jn).mkString(",") +
            s"""],"min":${jn(ss.min)}}"""
        }.mkString("{", ",", "}")
        println("GRAFT_EXTRA " + json)

      // one-off phase bisection for the tricount core (see OPTIMIZATION_r06)
      case "tricount_probe" :: Nil =>
        import org.apache.spark.sql.functions._
        def t[A](tag: String)(body: => A): A = {
          val t0 = System.nanoTime()
          val r = body
          println(f"PROBE $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
          r
        }
        val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val base = SparkEntry.edgesSup(spark, sfDir).select(
            least(col("src"), col("dst")).as("lo"),
            greatest(col("src"), col("dst")).as("hi"))
          .filter(col("lo") =!= col("hi")).distinct()
          .repartition(parts, col("lo"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val m = t("canon_materialize")(base.count())
        println(s"PROBE canon_edges $m")
        val wedgeParts = {
          val est = base.select(col("hi").as("b")).groupBy("b").agg(count(lit(1)).as("du"))
            .join(base.select(col("lo").as("b")).groupBy("b").agg(count(lit(1)).as("dl")), Seq("b"))
            .agg(sum(col("du") * col("dl"))).collect()(0).getLong(0)
          println(s"PROBE wedges_est $est")
          math.max(parts, math.min(16L * parts, est / 1500000L)).toInt
        }
        val e1 = base.select(col("lo").as("a"), col("hi").as("b")).repartition(wedgeParts, col("b"))
        val e2 = base.select(col("lo").as("b"), col("hi").as("c")).repartition(wedgeParts, col("b"))
        val wedges = e1.join(e2, Seq("b")).select(col("a"), col("c"))
        t("wedges_only_count")(wedges.count())
        val mask = base.select(col("lo").as("a"), col("hi").as("c"))
        t("closed_count")(wedges.join(broadcast(mask), Seq("a", "c"), "left_semi").count())
        t("closed_count_2nd")(wedges.join(broadcast(mask), Seq("a", "c"), "left_semi").count())

      // variant A/Bs for the tricount closing probe
      case "tricount_probe2" :: Nil =>
        import org.apache.spark.sql.functions._
        def t[A](tag: String)(body: => A): A = {
          val t0 = System.nanoTime()
          val r = body
          println(f"PROBE $tag ${(System.nanoTime() - t0) / 1e9}%.2f s = $r")
          r
        }
        val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val base = SparkEntry.edgesSup(spark, sfDir).select(
            least(col("src"), col("dst")).as("lo"),
            greatest(col("src"), col("dst")).as("hi"))
          .filter(col("lo") =!= col("hi")).distinct()
          .repartition(parts, col("lo"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        base.count()
        val wedgeParts = 110
        val e1 = base.select(col("lo").as("a"), col("hi").as("b")).repartition(wedgeParts, col("b"))
        val e2 = base.select(col("lo").as("b"), col("hi").as("c")).repartition(wedgeParts, col("b"))
        val wedges = e1.join(e2, Seq("b")).select(col("a"), col("c"))
        val mask = base.select(col("lo").as("a"), col("hi").as("c"))
        // A: packed single-long key (ids < 2^31 here)
        val wedgesP = e1.join(e2, Seq("b"))
          .select((shiftleft(col("a"), 32) + col("c")).as("ac"))
        val maskP = mask.select((shiftleft(col("a"), 32) + col("c")).as("ac"))
        t("A_packed_long_semi")(
          wedgesP.join(broadcast(maskP), Seq("ac"), "left_semi").count())
        // B: struct-key semi with wholeStage codegen OFF
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        t("B_semi_nocodegen")(
          wedges.join(broadcast(mask), Seq("a", "c"), "left_semi").count())
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        // C: inner join against mask + count (same count since mask unique)
        t("C_inner_count")(
          wedges.join(broadcast(mask), Seq("a", "c"), "inner").count())
        // D: sorted-array intersection: per edge |N+(a) ∩ N+(b)|
        val adjUp = base.groupBy(col("lo").as("v"))
          .agg(array_sort(collect_list(col("hi"))).as("nbrs"))
        val d = base
          .join(adjUp.select(col("v").as("lo"), col("nbrs").as("na")), Seq("lo"))
          .join(broadcast(adjUp.select(col("v").as("hi"), col("nbrs").as("nb"))), Seq("hi"))
          .select(size(array_intersect(col("na"), col("nb"))).cast("long").as("c"))
        t("D_array_intersect")(d.agg(sum(col("c"))).collect()(0).getLong(0))
        t("A_packed_2nd")(
          wedgesP.join(broadcast(maskP), Seq("ac"), "left_semi").count())

      // phase bisection for the minhash near-dup pipeline
      case "minhash_probe" :: Nil =>
        import org.apache.spark.sql.functions._
        def t[A](tag: String)(body: => A): A = {
          val t0 = System.nanoTime()
          val r = body
          println(f"PROBE $tag ${(System.nanoTime() - t0) / 1e9}%.2f s = $r")
          r
        }
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        println(s"PROBE docs ${docs.count()}")
        val sh = graft.pipeline.Dedup.shingles(docs, 3).cache()
        t("shingles_materialize")(sh.count())
        val sigs = graft.pipeline.Dedup.minhashSignatures(sh, 32)
        t("signatures")(sigs.count())
        val cands = graft.pipeline.Dedup.minhashCandidates(sigs, 8, 1000)
        t("candidates")(cands.count())
        val ver = graft.pipeline.Dedup.jaccardVerify(sh, cands, 0.5)
        t("verify")(ver.count())
        t("full_again")(graft.pipeline.Dedup.minhashNearDups(docs, threshold = 0.5).count())

      // per-iteration convergence trace of the flagship pagerank
      case "pr_probe" :: Nil =>
        val e = SparkEntry.edgesBi(spark, sfDir)
        val res = graft.algos.PageRank.run(spark, e, tol = 1e-6, maxIter = 100)
        res.metrics.foreach(m => println(
          f"PROBE iter=${m.iter} delta=${m.delta}%.17e sink=${m.sinkMass}%.17e ms=${m.millis}"))
        println(s"PROBE iters=${res.iterations}")

      // converged-run setup/iteration split on a materialized edge table
      case "conv_probe" :: path :: Nil =>
        val t0 = System.nanoTime()
        val edges = spark.read.parquet(path)
        val res = graft.algos.PageRank.run(spark, edges, tol = 1e-6, maxIter = 100)
        val total = (System.nanoTime() - t0) / 1e9
        val iterSec = res.metrics.map(_.millis).sum / 1000.0
        res.metrics.foreach(m => println(s"PROBE iter=${m.iter} ms=${m.millis}"))
        println(f"PROBE conv total=$total%.2f iters=${res.iterations} iter_sec=$iterSec%.2f setup_sec=${total - iterSec}%.2f")

      // phase bisection for the simhash near-dup pipeline
      case "simhash_probe" :: Nil =>
        def t[A](tag: String)(body: => A): A = {
          val t0 = System.nanoTime()
          val r = body
          println(f"PROBE $tag ${(System.nanoTime() - t0) / 1e9}%.2f s = $r")
          r
        }
        val sdocs = spark.read.parquet(s"$sfDir/documents.parquet")
        val sig = graft.pipeline.Dedup.simhash(sdocs)
        t("simhash_fingerprint")(sig.count())
        t("simhash_fingerprint_2nd")(sig.count())
        t("full_pairs")(graft.pipeline.Dedup.simhashNearDups(sdocs, maxHamming = 6).count())
        t("full_pairs_2nd")(graft.pipeline.Dedup.simhashNearDups(sdocs, maxHamming = 6).count())

      case "explain" :: outDir :: suffix :: names =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          val fn = probes.getOrElse(name, SparkEntry.queries.getOrElse(name,
            sys.error(s"unknown query $name")))
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
          Bench.dropCaches(spark)
          println(s"wrote $outDir/${name}_$suffix.txt")
        }

      case other => sys.error(s"usage: time <queries...> | explain <dir> <suffix> <queries...>; got $other")
    }
    spark.stop()
  }
}
