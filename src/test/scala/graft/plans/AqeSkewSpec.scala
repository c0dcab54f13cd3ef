package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** AQE skew-join end-to-end — the runtime complement of the explicit
  * salted join (`d16_salted_join`): a sort-merge join whose build of one
  * shuffle partition dwarfs the others must be re-planned at runtime into
  * split sub-partitions (`skew=true` on the join node), so one hot key
  * cannot straggle a 1000-executor stage. Thresholds are pinned low so
  * the behavior triggers at test scale; at 100 TB the defaults fire on
  * genuinely skewed keys. Result parity asserted alongside the plan. */
class AqeSkewSpec extends AnyFunSuite with SharedSpark {

  override protected def sparkConf = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
    // force the sort-merge path: a broadcast join sidesteps skew entirely
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("a hot key re-plans as a skew join under AQE, with result parity") {
    import spark.implicits._
    // key 0 holds ~99% of the left side, padded so its shuffle
    // partition crosses the pinned threshold
    val left = spark.range(0, 200000)
      .select((when($"id" % 100 === 0, $"id" % 4).otherwise(0L)).as("k"),
        concat(lit("x" * 64), $"id").as("payload"))
    val right = (0L until 4L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val joined = left.join(right, "k")

    // execute THIS query execution: AQE finalizes the inspected plan
    // only for the frame that actually ran (count() would execute a
    // separate aggregate plan and leave this one isFinalPlan=false)
    val n = joined.collect().length
    assert(n == 200000, s"join lost rows: $n")

    // assert on the join NODE's isSkewJoin field (stable API), not the
    // rendered "skew=true" plan-string wording
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val skewed = PlanNodes.flatten(joined.queryExecution.executedPlan)
      .exists {
        case j: SortMergeJoinExec    => j.isSkewJoin
        case j: ShuffledHashJoinExec => j.isSkewJoin
        case _                       => false
      }
    assert(skewed,
      "AQE did not re-plan the hot key as a skew join:\n" +
        joined.queryExecution.executedPlan.toString)

    // parity on the aggregate, against the driver-side ground truth
    val got = joined.groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 200000L)
      .map(i => if (i % 100 == 0) i % 4 else 0L)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want)
  }
}
