package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthesis of the north-rule input table
  * `(repo:string, path:string, commit:string, lang:string, content:string)`
  * and derivation of the link-graph edge table from it.
  *
  * Everything is a pure function of the row id (seeded splitmix-style mixing)
  * so the corpus regenerates bit-identically at any scale and on any number of
  * partitions — the sandbox stand-in for the 10^12-file Iceberg corpus. The
  * `content` of file i embeds `import <repo>/<path>` lines whose targets are
  * deterministic functions of i; edges are derived ONLY by parsing content and
  * resolving the named (repo,path) against the corpus — so edge derivation is
  * an honest parse+join, not a shortcut through the generator.
  */
object Corpus {

  val Langs = Seq("scala", "c", "py", "go", "rs")

  /** file idx -> (repo, path) naming scheme (pure; also used by the generator
    * to emit import targets that are guaranteed resolvable).
    */
  private def repoExpr(i: org.apache.spark.sql.Column, nRepos: Int) =
    concat(lit("org"), (pmod(i, lit(nRepos)) % 7).cast("string"),
      lit("/repo"), pmod(i, lit(nRepos)).cast("string"))
  private def pathExpr(i: org.apache.spark.sql.Column, nRepos: Int) =
    concat(lit("src/f"), (i / nRepos).cast("long").cast("string"),
      lit("."), element_at(typedLit(Langs), (pmod(i, lit(Langs.size)) + 1).cast("int")))

  /** Synthesize `n` files across `nRepos` repos, ~`fanout` imports per file.
    * Import targets use a multiplicative-hash walk so the graph is
    * power-law-ish (low ids are hubs: target = mix % (i+1) biases toward
    * small indices — a preferential-attachment-like skew for the salting
    * tests).
    */
  def synthesize(spark: SparkSession, n: Long, nRepos: Int = 13, fanout: Int = 4,
                 seed: Long = 42L): DataFrame = {
    val base = spark.range(0, n).toDF("i")
    // deterministic per-(file, k) import target in [0, n), biased to low ids
    val imports = transform(sequence(lit(0), lit(fanout - 1)), k => {
      val mix = abs(xxhash64(col("i"), k, lit(seed)))
      val lowBound = greatest(lit(1L), (col("i") / 16).cast("long") + 1)
      // bias: a quarter of the draws land among low ids => hub skew
      when(pmod(mix, lit(4)) === 0, pmod(mix, lowBound))
        .otherwise(pmod(mix, lit(n))).cast("long")
    })
    val importLines = transform(imports, t =>
      concat(lit("import "), repoExpr(t, nRepos), lit("/"), pathExpr(t, nRepos)))
    base.select(
      repoExpr(col("i"), nRepos).as("repo"),
      pathExpr(col("i"), nRepos).as("path"),
      lower(hex(xxhash64(col("i"), lit(seed), lit("commit")))).as("commit"),
      element_at(typedLit(Langs), (pmod(col("i"), lit(Langs.size)) + 1).cast("int")).as("lang"),
      concat(
        concat_ws("\n", importLines), lit("\n"),
        lit("def body_"), col("i").cast("string"),
        lit("(): x = "), pmod(xxhash64(col("i"), lit(seed + 1)), lit(1000)).cast("string"),
        lit(" // "), repeat(lit("filler "), 8)).as("content"))
  }

  /** [[synthesize]] with EXACT-ARITHMETIC import targets, commit, and body
    * values — Lehmer-style small-modulus mixes instead of xxhash64 — so the
    * whole synthesize → parse lines → resolve names → edge-table chain is
    * reproducible in portable SQL. That turns the honest parse+join edge
    * derivation itself into a DuckDB-oracle-checkable operation (the
    * `corpus_edges_arith` driver row); the xxhash64 [[synthesize]] variant
    * stays the scale/skew fixture (rows-only, unit-verified).
    */
  def synthesizeArith(spark: SparkSession, n: Long, nRepos: Int = 13,
                      fanout: Int = 4): DataFrame =
    arithRows(spark, 0, n, n, nRepos, fanout).drop("i")

  /** [[synthesizeArith]] keeping the file index `i`, over the id range
    * [start, end) with import targets drawn mod `modN` — the internal form
    * the snapshot evolution below derives its deterministic edits from
    * (old files must keep their ORIGINAL modulus or their content would
    * change with the corpus size).
    */
  private def arithRows(spark: SparkSession, start: Long, end: Long,
                        modN: Long, nRepos: Int, fanout: Int): DataFrame = {
    val base = spark.range(start, end).toDF("i")
    val imports = transform(sequence(lit(0), lit(fanout - 1)), k => {
      val mix = pmod((col("i") + 1L) * 48271L + (k.cast("long") + 1L) * 7919L,
        lit(1000003L))
      val lowBound = greatest(lit(1L), (col("i") / 16).cast("long") + 1)
      when(pmod(mix, lit(4)) === 0, pmod(mix, lowBound))
        .otherwise(pmod(mix, lit(modN))).cast("long")
    })
    val importLines = transform(imports, t =>
      concat(lit("import "), repoExpr(t, nRepos), lit("/"), pathExpr(t, nRepos)))
    base.select(col("i"),
      repoExpr(col("i"), nRepos).as("repo"),
      pathExpr(col("i"), nRepos).as("path"),
      pmod(col("i") * 69621L + 3L, lit(1000003L)).cast("string").as("commit"),
      element_at(typedLit(Langs), (pmod(col("i"), lit(Langs.size)) + 1).cast("int")).as("lang"),
      concat(
        concat_ws("\n", importLines), lit("\n"),
        lit("def body_"), col("i").cast("string"),
        lit("(): x = "), pmod(col("i") * 48271L + 11L, lit(1000L)).cast("string"),
        lit(" // "), repeat(lit("filler "), 8)).as("content"))
  }

  /** The NEXT snapshot of [[synthesizeArith]]'s corpus, evolved by
    * deterministic closed-form edits (the sandbox stand-in for the next
    * Iceberg snapshot of the 10^12-file table): among the first `n` files,
    * every i ≡ 5 (mod 11) is DELETED, every surviving i ≡ 3 (mod 7) is
    * MODIFIED (content gets a patch line, commit advances to a new Lehmer
    * value), and `nNew` fresh files [n, n+nNew) are ADDED (their content
    * follows the same formula, so cross-snapshot imports stay resolvable).
    */
  def synthesizeArithV2(spark: SparkSession, n: Long, nNew: Long,
                        nRepos: Int = 13, fanout: Int = 4): DataFrame = {
    val modified = pmod(col("i"), lit(7)) === 3
    // survivors of snapshot 1 keep their ORIGINAL content (import targets
    // still drawn mod n) except the deterministic patches
    val survivors = arithRows(spark, 0, n, n, nRepos, fanout)
      .filter(pmod(col("i"), lit(11)) =!= 5)
      .select(col("repo"), col("path"),
        when(modified, pmod(col("i") * 16807L + 17L, lit(1000003L)).cast("string"))
          .otherwise(col("commit")).as("commit"),
        col("lang"),
        when(modified, concat(col("content"), lit("\n// patched")))
          .otherwise(col("content")).as("content"))
    val added = arithRows(spark, n, n + nNew, n + nNew, nRepos, fanout).drop("i")
    survivors.unionByName(added)
  }

  /** Snapshot diff — lakehouse change-data-capture between two corpus
    * snapshots: (repo, path, status ∈ added|deleted|modified, old_commit,
    * new_commit), "modified" decided by CONTENT HASH inequality (sha256),
    * never by commit metadata.
    *
    * Scale shape at 10^12 files: contents never cross the wire — each side
    * first reduces to a (repo, path, sha256, commit) projection (the sha is
    * computed in the scan stage), then ONE full-outer hash join on the
    * (repo, path) key decides every status; unchanged rows (the vast
    * majority of a real snapshot pair) are dropped before materializing.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def keyed(df: DataFrame, tag: String) = df.select(col("repo"), col("path"),
      sha2(col("content"), 256).as(s"sha_$tag"), col("commit").as(s"${tag}_commit"))
    keyed(oldSnap, "old").join(keyed(newSnap, "new"), Seq("repo", "path"), "full_outer")
      .select(col("repo"), col("path"),
        when(col("sha_old").isNull, lit("added"))
          .when(col("sha_new").isNull, lit("deleted"))
          .when(col("sha_old") =!= col("sha_new"), lit("modified"))
          .otherwise(lit("unchanged")).as("status"),
        col("old_commit"), col("new_commit"))
      .filter(col("status") =!= "unchanged")
  }

  /** [[deriveEdges]] keeping NAMED endpoints — (src_repo, src_path,
    * dst_repo, dst_path, w) string keys instead of hashed vertex ids —
    * the oracle-comparable form of the parse+resolve derivation.
    */
  def deriveEdgesNamed(corpus: DataFrame): DataFrame = {
    val files = corpus.select(col("repo").as("dst_repo"), col("path").as("dst_path"))
    corpus
      .select(col("repo").as("src_repo"), col("path").as("src_path"),
        explode(split(col("content"), "\n")).as("line"))
      .filter(col("line").startsWith("import "))
      .select(col("src_repo"), col("src_path"),
        expr("substring(line, 8)").as("target"))
      .select(col("src_repo"), col("src_path"),
        concat_ws("/", slice(split(col("target"), "/"), 1, 2)).as("dst_repo"),
        concat_ws("/", slice(split(col("target"), "/"), 3, 100)).as("dst_path"))
      .join(files, Seq("dst_repo", "dst_path"), "left_semi")
      .filter(!(col("src_repo") === col("dst_repo") &&
                col("src_path") === col("dst_path")))
      .groupBy("src_repo", "src_path", "dst_repo", "dst_path")
      .agg(count(lit(1)).as("w"))
  }

  /** Vertex id for a (repo,path): 64-bit hash, the north-star's
    * "(repo,path)-derived vertex IDs". Collision-free in practice at the
    * tested scales (checked in the test suite).
    */
  def vertexId(repo: org.apache.spark.sql.Column, path: org.apache.spark.sql.Column) =
    xxhash64(repo, path)

  /** Derive the edge table by parsing `import repo/path` lines out of content
    * and resolving them against the corpus itself (unresolvable references
    * drop out via the inner join). Self-loops removed; duplicate imports
    * collapse to weight = #occurrences (GrB_Matrix_build dup=plus).
    */
  def deriveEdges(corpus: DataFrame): DataFrame = {
    val files = corpus.select(col("repo"), col("path"),
      vertexId(col("repo"), col("path")).as("vid"))
    val refs = corpus
      .select(vertexId(col("repo"), col("path")).as("src"),
        explode(split(col("content"), "\n")).as("line"))
      .filter(col("line").startsWith("import "))
      .select(col("src"), expr("substring(line, 8)").as("target"))
      // target = "<repo>/<path>" where repo itself contains one '/':
      // org{d}/repo{m}/src/f{q}.{lang}
      .select(col("src"),
        concat_ws("/", slice(split(col("target"), "/"), 1, 2)).as("trepo"),
        concat_ws("/", slice(split(col("target"), "/"), 3, 100)).as("tpath"))
    refs.join(files.select(col("repo").as("trepo"), col("path").as("tpath"),
        col("vid").as("dst")), Seq("trepo", "tpath"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("w"))
  }

  /** License-taint propagation: the classic "copyleft contamination" crawl
    * query. Every file of `seedRepo` is tainted at depth 0; taint flows
    * along REVERSE import edges (A imports B, B tainted ⇒ A tainted), and
    * each file reports its MINIMUM reverse-hop distance to a seed. Bounded
    * at `maxDepth` so the answer is deterministic on cyclic import graphs
    * regardless of where a fixpoint would land (the oracle replays the same
    * bound).
    *
    * Spark shape: the loop runs on 8-byte (repo,path)-hash vertex ids — the
    * frontier exchange never carries strings — with the reversed adjacency
    * hash-partitioned once and every state cutKeyed on the same key, so
    * per-level joins are exchange-free; names are joined back once at the
    * end. O(depth) rounds, frontier-sized work per round: the 100 TB shape.
    *
    * @return (repo, path, depth) for tainted files only.
    */
  def licenseTaint(spark: SparkSession, corpus: DataFrame, seedRepo: String,
                   maxDepth: Int = 20, numPartitions: Int = 0): DataFrame =
    graft.core.Iterate.withoutAQE(spark) {
      import graft.core.Iterate
      val parts = Iterate.partitions(spark, numPartitions)
      val names = corpus.select(col("repo"), col("path"),
        vertexId(col("repo"), col("path")).as("id"))
      // taint flows dst -> src: key the reversed adjacency by the TAINTED end
      val rev = Iterate.cutKeyed(deriveEdgesNamed(corpus).select(
          vertexId(col("dst_repo"), col("dst_path")).as("from"),
          vertexId(col("src_repo"), col("src_path")).as("id"))
        .distinct(), parts, "from")

      var visited = Iterate.cutKeyed(
        names.filter(col("repo") === seedRepo)
          .select(col("id"), lit(0).as("depth")), parts, "id")
      var frontier = visited.select(col("id").as("from"))
      var depth = 0
      var frontierSize = 1L
      while (frontierSize > 0 && depth < maxDepth) {
        depth += 1
        val nextPre = rev.join(frontier, Seq("from"))
          .select(col("id")).distinct()
          .join(visited.select("id"), Seq("id"), "left_anti")
          .select(col("id"), lit(depth).as("depth"))
          .observe(s"taint_$depth", count(lit(1)).as("n"))
        val next = Iterate.cutKeyed(nextPre, parts, "id")
        frontierSize = Iterate.observedLong(nextPre, s"taint_$depth")(next.count())
        if (frontierSize > 0) {
          val newVisited = Iterate.cutKeyed(
            visited.unionByName(next), parts, "id")
          Iterate.free(visited)
          visited = newVisited
          frontier = next.select(col("id").as("from"))
        }
      }
      Iterate.free(rev)
      visited.join(names, Seq("id"))
        .select(col("repo"), col("path"), col("depth").cast("long").as("depth"))
    }

  /** Files nothing imports (in-degree 0 in the resolved file graph) — the
    * dead-code / orphan-artifact sweep a corpus curation pass runs. One
    * anti-join against the derived edges' dst side.
    */
  def deadFiles(corpus: DataFrame): DataFrame = {
    val tgt = deriveEdgesNamed(corpus)
      .select(col("dst_repo").as("repo"), col("dst_path").as("path"))
    corpus.select(col("repo"), col("path"))
      .join(tgt, Seq("repo", "path"), "left_anti")
  }

  /** Cyclic dependency groups among REPOS — the strongly connected
    * components of the repo quotient graph. A cross-repo import cycle means
    * no repo in the group can be built/vendored/deleted independently; the
    * per-repo report (repo, cycle_rep, cycle_size) is the "untangle these
    * first" worklist a monorepo-decomposition pass starts from.
    *
    * Scale shape: the quotient graph has one vertex per REPO (orders of
    * magnitude below the file table), so the SCC runs on a tiny projection;
    * the only corpus-sized work is the same parse+join edge derivation every
    * other corpus op shares. Repo names map to dense ids by a sorted rank
    * over the distinct-repo table (small by construction) and back at the
    * end — the SCC loop itself never carries strings.
    */
  def repoCycles(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val re = deriveEdgesNamed(corpus)
      .filter(col("src_repo") =!= col("dst_repo"))
      .select(col("src_repo"), col("dst_repo")).distinct()
    val repos = corpus.select(col("repo")).distinct()
    // dense ids over the (small) distinct-repo table; single-partition
    // window is fine exactly because the quotient vertex set is small
    val ranked = repos.withColumn("rid", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("repo"))).cast("long"))
    val eid = re
      .join(ranked.select(col("repo").as("src_repo"), col("rid").as("src")), Seq("src_repo"))
      .join(ranked.select(col("repo").as("dst_repo"), col("rid").as("dst")), Seq("dst_repo"))
      .select(col("src"), col("dst"))
    val scc = graft.algos.SCC.run(spark, eid) // (id, scc) over edge endpoints
    val assigned = ranked.join(scc.select(col("id").as("rid"), col("scc").as("comp")), Seq("rid"), "left")
      .select(col("repo"), coalesce(col("comp"), col("rid")).as("comp")) // isolated repo = own cycle
    val groups = assigned.groupBy("comp")
      .agg(min(col("repo")).as("cycle_rep"), count(lit(1)).as("cycle_size"))
    assigned.join(groups, Seq("comp"))
      .select(col("repo"), col("cycle_rep"), col("cycle_size"))
  }

  /** Build layers — the "what can compile in parallel" schedule of the repo
    * dependency graph: collapse dependency cycles to their [[repoCycles]]
    * SCC representative (mutually-importing repos must build together), then
    * (max,+) longest-path layer each representative over the condensation
    * DAG ([[graft.algos.Toposort]] semantics — layer 0 builds first, layer k
    * needs only layers < k). Returns
    * (repo, cycle_rep, cycle_size, build_layer).
    *
    * Scale shape: everything past the file-graph grouping runs on the repo
    * QUOTIENT (|repos| rows — the single-partition rank window is fine
    * exactly because the quotient is small; the raw file table never joins
    * the fixpoint); the cycle collapse guarantees the layering terminates.
    */
  def buildLayers(spark: SparkSession, corpus: DataFrame,
                  minW: Long = 1L): DataFrame = {
    // STRONG dependencies only: repo-pair edges whose total import-line
    // count reaches minW (the raw quotient of a big corpus is one giant
    // SCC — thresholding is what exposes the actual build skeleton)
    val rw = deriveEdgesNamed(corpus)
      .filter(col("src_repo") =!= col("dst_repo"))
      .groupBy("src_repo", "dst_repo").agg(sum(col("w")).as("rw"))
      .filter(col("rw") >= minW)
      .select(col("src_repo"), col("dst_repo"))
    val repos = corpus.select(col("repo")).distinct()
    val ranked = repos.withColumn("rid", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("repo"))).cast("long"))
    val eid = rw
      .join(ranked.select(col("repo").as("src_repo"), col("rid").as("src")),
        Seq("src_repo"))
      .join(ranked.select(col("repo").as("dst_repo"), col("rid").as("dst")),
        Seq("dst_repo"))
      .select(col("src"), col("dst"))
    val scc = graft.algos.SCC.run(spark, eid)
    val assigned = ranked
      .join(scc.select(col("id").as("rid"), col("scc").as("comp")), Seq("rid"), "left")
      .select(col("repo"), col("rid"), coalesce(col("comp"), col("rid")).as("comp"))
    val groups = assigned.groupBy("comp")
      .agg(min(col("repo")).as("cycle_rep"), count(lit(1)).as("cycle_size"))
    val compOf = assigned.select(col("rid"), col("comp"))
    val ce = eid
      .join(compOf.select(col("rid").as("src"), col("comp").as("sc")), Seq("src"))
      .join(compOf.select(col("rid").as("dst"), col("comp").as("dc")), Seq("dst"))
      .filter(col("sc") =!= col("dc"))
      .select(col("sc").as("src"), col("dc").as("dst")).distinct()
    val layers = graft.algos.Toposort.run(spark, ce)
    val compLayer = groups.select(col("comp"))
      .join(layers.select(col("id").as("comp"), col("layer")), Seq("comp"), "left")
      .select(col("comp"), coalesce(col("layer"), lit(0L)).as("build_layer"))
    assigned.join(groups, Seq("comp")).join(compLayer, Seq("comp"))
      .select(col("repo"), col("cycle_rep"), col("cycle_size"), col("build_layer"))
  }

  /** Symbol cross-reference index (the ctags/LSIF primitive): every `def`
    * declaration in the corpus with its defining file and the file's import
    * fan-in (how many files import the definer — a proxy for how widely the
    * symbol is consumable). Pure codegen'd regexp extraction + one reuse of
    * the shared edge derivation; no UDFs.
    *
    * @return (symbol, repo, path, fan_in), one row per declaration.
    */
  def symbolXref(corpus: DataFrame): DataFrame = {
    val defs = corpus.select(col("repo"), col("path"),
        explode(expr("regexp_extract_all(content, 'def ([a-zA-Z0-9_]+)', 1)")).as("symbol"))
    val fanIn = deriveEdgesNamed(corpus)
      .groupBy(col("dst_repo").as("repo"), col("dst_path").as("path"))
      .agg(count(lit(1)).as("fan_in"))
    defs.join(fanIn, Seq("repo", "path"), "left")
      .select(col("symbol"), col("repo"), col("path"),
        coalesce(col("fan_in"), lit(0L)).as("fan_in"))
  }

  /** Martin coupling metrics per repo: Ca (afferent — distinct repos that
    * depend on it), Ce (efferent — distinct repos it depends on), and
    * instability I = Ce/(Ca+Ce) ∈ [0,1] (Martin, "OO Design Quality
    * Metrics", 1994). High-I repos are safe to change; high-Ca low-I repos
    * are the load-bearing ones a migration must sequence around. One
    * repo-quotient aggregation; I is computed from the exact integer counts
    * and rounded to 6 dp so any engine reproduces it bit-for-bit.
    */
  def couplingMetrics(corpus: DataFrame): DataFrame = {
    val re = deriveEdgesNamed(corpus)
      .filter(col("src_repo") =!= col("dst_repo"))
      .select(col("src_repo"), col("dst_repo")).distinct()
    val ce = re.groupBy(col("src_repo").as("repo")).agg(count(lit(1)).as("ce"))
    val ca = re.groupBy(col("dst_repo").as("repo")).agg(count(lit(1)).as("ca"))
    corpus.select(col("repo")).distinct()
      .join(ca, Seq("repo"), "left").join(ce, Seq("repo"), "left")
      .select(col("repo"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("ce"), lit(0L)).as("ce"))
      .withColumn("instability",
        when(col("ca") + col("ce") === 0L, lit(null).cast("double"))
          .otherwise(round(col("ce").cast("double") / (col("ca") + col("ce")), 6)))
  }

  /** Per-row provenance: sha256(content) equality against the source table
    * (north rule). Returns rows that FAIL the check — empty means verified.
    */
  def provenanceViolations(derived: DataFrame, source: DataFrame): DataFrame = {
    val d = derived.select(col("repo"), col("path"), sha2(col("content"), 256).as("d_sha"))
    val s = source.select(col("repo"), col("path"), sha2(col("content"), 256).as("s_sha"))
    d.join(s, Seq("repo", "path"), "full_outer")
      .filter(col("d_sha").isNull || col("s_sha").isNull || col("d_sha") =!= col("s_sha"))
  }
}
