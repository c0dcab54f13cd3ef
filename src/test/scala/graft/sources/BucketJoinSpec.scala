package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Co-located joins via bucketing: `places` and per-place op counts both
  * bucketed on the place key join WITHOUT a shuffle exchange — the scale
  * form of the engine's repeated places ⋈ operations joins (SURVEY §2 D
  * group note; at 100 TB the exchange, not the probe, is the cost). */
class BucketJoinSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2
  override protected def sparkConf = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("bucketwh").toFile.getAbsolutePath,
    // force the sort-merge path: broadcast would hide the exchange story
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("bucketBy on the join key eliminates both shuffle exchanges") {
    import spark.implicits._
    val places = (1L to 1000L).map(k => (k, s"place $k")).toDF("key", "name")
    val opCounts = (1L to 1000L).filter(_ % 3 == 0)
      .map(k => (k, k % 17)).toDF("key", "n_ops")
    places.write.bucketBy(8, "key").sortBy("key")
      .mode("overwrite").saveAsTable("places_b")
    opCounts.write.bucketBy(8, "key").sortBy("key")
      .mode("overwrite").saveAsTable("ops_b")

    val joined = spark.table("places_b").join(spark.table("ops_b"), "key")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle; plan:\n$plan")
    assert(joined.count() == 333)

    // control: the same join over unbucketed data DOES exchange
    val unbucketed = places.join(opCounts, "key")
    unbucketed.count()
    val controlPlan = unbucketed.queryExecution.executedPlan.toString
    assert(controlPlan.contains("Exchange"))
  }
}
