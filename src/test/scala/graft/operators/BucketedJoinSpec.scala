package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.SharedSpark

/** Proof of the bucketed co-located join — the write-time layout that
  * turns the engine's hottest repeated join (orders ⋈ lineitem by order
  * key, the trade-graph / enrichment backbone) into a ZERO-EXCHANGE
  * sort-merge join at read time. Mirrors ZorderSpec's role for scans:
  * not an operator, but the end-to-end demonstration that the layout
  * actually removes the shuffle, asserted on the physical plan, with
  * identical results to the plain join. */
class BucketedJoinSpec extends AnyFunSuite with SharedSpark {

  override protected def sparkConf = Seq(
    "spark.sql.warehouse.dir" ->
      Files.createTempDirectory("graft-bucket-wh").toFile.getAbsolutePath,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force SMJ

  test("bucketed tables join without an Exchange; plain parquet pays two") {
    import spark.implicits._
    try {
      val orders = (1L to 2000L).map(k => (k, s"clerk${k % 7}"))
        .toDF("o_orderkey", "clerk")
      val items = (1L to 6000L).map(i => (i % 2000L + 1, i, (i % 50).toDouble))
        .toDF("l_orderkey", "l_id", "qty")

      orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      items.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("items_b")

      val joined = spark.table("orders_b").join(spark.table("items_b"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // the whole point: both sides read pre-bucketed, so the join needs
      // NO shuffle at any data size — the layout replaced the exchange
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))

      // same join over plain (unbucketed) inputs shuffles both sides
      val plainPlan = orders.join(items,
          col("o_orderkey") === col("l_orderkey"))
        .queryExecution.executedPlan.toString
      assert(plainPlan.contains("Exchange hashpartitioning"),
        plainPlan.take(3000))

      // and the results are identical
      val a = joined.groupBy("clerk").agg(sum("qty").as("s"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      val b = orders.join(items, col("o_orderkey") === col("l_orderkey"))
        .groupBy("clerk").agg(sum("qty").as("s"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(a == b && a.size == 7)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS items_b")
    }
  }
}
