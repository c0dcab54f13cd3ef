package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Skew handling for hot keys: two-phase salted aggregation — salt the
  * skewed key, partial-aggregate per (key, salt), then final-aggregate per
  * key. At 100 TB a single hot key (one language dominating `documents`,
  * one mega-tile) otherwise lands on one reducer; salting bounds any
  * task's share at 1/S of the hot key. Results must be exactly the plain
  * aggregation's. */
class SkewSaltSpec extends AnyFunSuite with SharedSpark {

  test("salted two-phase agg equals direct agg; salt spreads the hot key") {
    import spark.implicits._
    // 90% of rows share one key — the skew shape AQE splits at runtime;
    // salting is the declarative form that also works pre-AQE (e.g.
    // inside a cached stage or a streaming foreachBatch)
    val rows = (1 to 100000).map { i =>
      (if (i % 10 == 0) s"lang_${i % 7}" else "en", i.toLong)
    }.toDF("lang", "v")
    val salts = 8
    val salted = rows
      .withColumn("salt", pmod(hash(col("v")), lit(salts)))
      .groupBy("lang", "salt")
      .agg(count(lit(1)).as("c"), sum("v").as("s"))
      .groupBy("lang")
      .agg(sum("c").cast("long").as("cnt"), sum("s").as("total"))
    val direct = rows.groupBy("lang")
      .agg(count(lit(1)).as("cnt"), sum("v").as("total"))
    val a = salted.orderBy("lang").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    val b = direct.orderBy("lang").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(a.sameElements(b))
    // the hot key's partials really are spread across all salt buckets
    val hotBuckets = rows.withColumn("salt", pmod(hash(col("v")), lit(salts)))
      .where(col("lang") === "en").select("salt").distinct().count()
    assert(hotBuckets == salts)
  }
}
