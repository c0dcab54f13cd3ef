package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.AsofJoin
import graft.SharedSpark

/** NativeAsofJoin (the custom LogicalPlan/Strategy/SparkPlan form)
  * against both a brute-force reference and the union+window
  * composition, including ties, hot keys, null keys/timestamps, and the
  * physical-plan shape (AsofJoinExec present, children sorted). */
class NativeAsofJoinSpec extends AnyFunSuite with SharedSpark {

  private def fixture(seed: Int, n: Int, hotFrac: Double = 0.0) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def key() = if (rnd.nextDouble() < hotFrac) 1L else rnd.nextInt(9).toLong
    val probe = (1 to n).map(i => (i.toLong, key(), rnd.nextInt(50).toLong))
      .toDF("p_id", "k", "ts")
    val build = (1 to n).map(i =>
        (i.toLong + 100000, key(), rnd.nextInt(50).toLong, rnd.nextInt(1000)))
      .toDF("b_id", "k", "ts", "b_val")
    (probe, build)
  }

  /** brute force: per probe row, the build row with max (ts, b_id) among
    * same-key rows with ts <= probe ts. */
  private def brute(probe: Seq[(Long, Long, Long)],
                    build: Seq[(Long, Long, Long, Int)]) =
    probe.map { case (pid, k, ts) =>
      val m = build.filter(b => b._2 == k && b._3 <= ts)
        .sortBy(b => (b._3, b._1)).lastOption
      (pid, m.map(_._1), m.map(_._4))
    }.toSet

  test("matches brute force and the union+window composition (ties, hot key)") {
    import spark.implicits._
    val (probe, build) = fixture(seed = 31, n = 400, hotFrac = 0.5)
    val native = NativeAsofJoin.backward(probe,
        build.select(col("k"), col("ts"),
          col("b_id"), col("b_val")),
        Seq("k"), "ts", "ts", payload = Seq("b_id", "b_val"),
        tiebreak = Seq("b_id"))
      .select("p_id", "b_id", "b_val")
    val gotNative = native.collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Int]))).toSet

    val composed = AsofJoin.backward(probe, build.select("k", "ts", "b_id", "b_val"),
        Seq("k"), "ts", "ts", payload = Seq("b_id", "b_val"), tiebreak = "b_id")
      .select("p_id", "b_id", "b_val").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Int]))).toSet

    val want = brute(
      probe.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      build.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq)
    assert(gotNative == want, "native vs brute force")
    assert(composed == want, "composition vs brute force")
  }

  test("null keys and null timestamps never match") {
    import spark.implicits._
    val probe = Seq((1L, Some(7L), Some(10L)), (2L, None, Some(10L)),
      (3L, Some(7L), None)).toDF("p_id", "k", "ts")
    val build = Seq((Some(7L), Some(5L), "a"), (None, Some(1L), "n"),
      (Some(7L), None, "t")).toDF("k", "ts", "v")
    val got = NativeAsofJoin.backward(probe, build, Seq("k"), "ts", "ts",
        payload = Seq("v"), tiebreak = Seq("v"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got == Map(1L -> Some("a"), 2L -> None, 3L -> None))
  }

  test("plans as AsofJoinExec over sorted, co-partitioned children") {
    import spark.implicits._
    val (probe, build) = fixture(seed = 7, n = 50)
    val df = NativeAsofJoin.backward(probe, build, Seq("k"), "ts", "ts",
      payload = Seq("b_id", "b_val"), tiebreak = Seq("b_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin ["), plan) // AsofJoinExec renders sans Exec
    assert(plan.contains("Exchange hashpartitioning(__l_k#") &&
        plan.contains("Exchange hashpartitioning(__r_k#"),
      s"children not co-partitioned:\n$plan")
    assert("Sort \\[".r.findAllIn(plan).size >= 2, s"children not sorted:\n$plan")
    // 2000 probe rows through the exec: exactly one output row per probe row
    assert(df.count() == 50)
  }

  test("payload aliasing the probe side is rejected") {
    import spark.implicits._
    val base = Seq((1L, 2L, 3L)).toDF("k", "ts", "x")
    intercept[IllegalArgumentException] {
      NativeAsofJoin.backward(base, base, Seq("k"), "ts", "ts",
        payload = Seq("x"), tiebreak = Seq("x"))
    }
  }
}
