package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._

/** `bottom_k_distinct` called with the wrong number of arguments fails
  * analysis with an error naming its signature. */
class BottomKDistinctSpec extends AnyFunSuite {

  test("wrong arity is an AnalysisException naming the signature") {
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .appName("bottom-k-distinct")
      .getOrCreate()
    try {
      Native.register(spark)
      val df = spark.range(10).toDF("x")
      for (args <- Seq(Seq(col("x")), Seq(col("x"), lit(3), lit(1)))) {
        val e = intercept[AnalysisException] {
          df.agg(call_function("bottom_k_distinct", args: _*)).collect()
        }
        assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
        assert(e.getMessage.contains("`bottom_k_distinct`(value BIGINT, k INT)"))
        assert(e.getMessage.contains(s"actual number is ${args.length}"))
      }
      // the two-argument form still works
      val got = df.agg(call_function("bottom_k_distinct", col("x"), lit(3)))
        .head().getSeq[Long](0)
      assert(got === Seq(0L, 1L, 2L))
    } finally spark.stop()
  }
}
