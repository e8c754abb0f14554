package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hub-vertex skew handling for the gather join of iterative algorithms
  * (north rule: "salting for hub-vertex skew"; the reference's analogue is
  * the coarse/fine task slicing of /root/reference/Source/GB_AxB_saxpy3.c:24-51,
  * where a single hot column gets a team of fine tasks instead of one).
  *
  * The gather join `adj ⋈ state ON src` hash-partitions edges by src, so one
  * power-law hub src owning p% of the edges puts p% of the join + multiply +
  * partial-agg work in ONE task.
  *
  * The remedy is hot-key isolation (PageRank, CC): split the (few,
  * detected) hot-src edges out and spread them across partitions by `dst`;
  * the cold edges keep their src partitioning (co-partitioned with the
  * state, zero exchange), while the hot edges join against a BROADCAST of
  * the ≤cap hot state rows — replicating the tiny state side to every
  * partition instead of funneling the huge edge side through one task. No
  * extra data-sized exchange anywhere; identical results. This object holds
  * the one detection policy; the split itself lives in each caller's setup.
  * (One-shot products salt their reduce side instead: GBMatrix.vxmSalted.)
  */
object Skew {

  /** Keys of `df.col(key)` whose frequency exceeds `frac` of an average
    * partition's share (and at least `minDeg`), heaviest first, capped —
    * the driver-side hot list is O(cap), never data-sized.
    */
  def hotKeys(df: DataFrame, key: String, parts: Int, frac: Double = 0.5,
              minDeg: Long = 4096, cap: Int = 1024): Seq[Any] =
    hotKeysFromCounts(
      df.groupBy(col(key)).agg(count(lit(1)).cast("double").as("c")),
      key, "c", df.count(), parts, frac, minDeg, cap)

  /** The ONE hot-key policy, over a precomputed per-key count table —
    * callers that already hold the counts (PageRank's cached degree table)
    * skip the counting pass without duplicating the threshold/cap rules.
    * `total` is the row count the counts were taken over.
    */
  def hotKeysFromCounts(counts: DataFrame, key: String, countCol: String,
                        total: Long, parts: Int, frac: Double = 0.5,
                        minDeg: Long = 4096, cap: Int = 1024): Seq[Any] = {
    val threshold = math.max(minDeg.toDouble, total / parts.toDouble * frac)
    // native values, not getLong: the key column may be string-typed (e.g.
    // textrank's term vertices) — isin() takes the values as-is either way
    counts.filter(col(countCol) > threshold)
      .orderBy(col(countCol).desc).limit(cap)
      .select(col(key)).collect().map(_.get(0)).toSeq
  }
}
