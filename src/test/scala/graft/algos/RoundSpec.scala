package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkTestBase
import graft.core.Iterate

/** The shape of one round of PageRank, CC and LPA: one Spark job per extra
  * round (the gather join keeps the cached adjacency where it is), and one
  * shuffle exchange in an LPA round.
  */
class RoundSpec extends SparkTestBase {
  import spark.implicits._

  /** Path 0 - 1 - … - n: no hub, and labels keep moving for n rounds. */
  private def path(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, i + 1L, 1.0)).toDF("src", "dst", "w")

  test("PageRank, CC without a hub and LPA run one Spark job per extra round") {
    val edges = path(30)
    assert(extraJobs(k => PageRank.run(spark, edges, tol = 0.0, maxIter = k)) == 3)
    assert(extraJobs(k => ConnectedComponents.run(spark, edges, maxIter = k)) == 3)
    assert(extraJobs(k => LabelPropagation.run(spark, edges, maxIter = k)) == 3)
  }

  test("an LPA round has one shuffle exchange and broadcasts nothing") {
    val parts = Iterate.partitions(spark, 0)
    val edges = path(30)
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("src")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    und.count()
    val labels = Iterate.cutKeyed(
      und.select(col("src").as("id")).distinct().select(col("id"), col("id").as("label")),
      parts, "id")
    val plan = Iterate.withoutAQE(spark)(
      LabelPropagation.round(und, labels, parts).queryExecution.executedPlan)
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    val broadcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(shuffles.size == 1 && broadcasts.isEmpty, plan.treeString)
    Iterate.free(labels)
    und.unpersist(false)
  }
}
