package graft.plans

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Dynamic partition pruning end-to-end — the BucketedJoinSpec /
  * ZorderSpec counterpart for star-schema scans: a fact table laid out
  * `partitionBy(key)` joined to a FILTERED small dimension must plan a
  * `dynamicpruning` partition filter on the fact scan (the dim's
  * broadcast result reused as the pruning subquery), so at 100 TB the
  * fact side reads only the partitions the dimension selects instead of
  * the whole table. Result parity against the unpartitioned join is
  * asserted alongside the plan shape. */
class DppSpec extends AnyFunSuite with SharedSpark {

  // the default, pinned so a config drift cannot silently disable the
  // behavior this spec documents
  override protected def sparkConf = Seq(
    "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true")

  test("a filtered dim join prunes fact partitions dynamically, with result parity") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dpp").toFile.getAbsolutePath
    // fact: 8 partitions by region_key, 1000 rows each side of the join
    (0L until 8000L).map(i => (i % 8, i, (i * 7) % 100))
      .toDF("region_key", "id", "amount")
      .write.mode("overwrite").partitionBy("region_key")
      .parquet(s"$dir/fact")
    // dim: 8 regions, the filter selects exactly 2
    (0L until 8L).map(k => (k, if (k < 2) "EMEA" else "OTHER"))
      .toDF("region_key", "zone")
      .write.mode("overwrite").parquet(s"$dir/dim")

    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").where($"zone" === "EMEA")
    val joined = fact.join(dim, "region_key")
      .groupBy("region_key").agg(sum("amount").as("total"))

    // assert on the fact scan's partitionFilters holding a
    // DynamicPruningExpression (stable API), not the rendered
    // "dynamicpruning" plan-string wording
    import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
    import org.apache.spark.sql.execution.FileSourceScanExec
    val pruned = PlanNodes.flatten(joined.queryExecution.executedPlan)
      .collect { case sc: FileSourceScanExec => sc }
      .exists(_.partitionFilters.exists(
        _.exists(_.isInstanceOf[DynamicPruningExpression])))
    assert(pruned,
      "fact scan lost its dynamic pruning filter:\n" +
        joined.queryExecution.executedPlan.toString)

    // partition-directory columns read back as the narrowest inferred
    // type (int here) — extract numerically, not positionally-typed
    val got = joined.collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .toMap
    // parity: the same aggregate computed without any partition layout
    val flat = (0L until 8000L).map(i => (i % 8, (i * 7) % 100))
      .filter(_._1 < 2)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(got == flat)
    assert(got.keySet == Set(0L, 1L))
  }
}
