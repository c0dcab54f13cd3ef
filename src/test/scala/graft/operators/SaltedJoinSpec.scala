package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** SaltedJoin.inner: exact equality with the plain join on a skewed
  * fixture (including duplicate-key multiplicities), the salted exchange
  * in the physical plan, and the reserved-column guard. */
class SaltedJoinSpec extends AnyFunSuite with SharedSpark {

  private def fixture = {
    import spark.implicits._
    // 90% of probe rows share key 1 — the hot-key regime
    val probe = (1 to 1000).map(i =>
      (if (i <= 900) 1L else (i % 37).toLong, s"p$i")).toDF("k", "pv")
    // duplicate build rows on the hot key: multiplicities must survive
    val build = Seq((1L, "b1"), (1L, "b2"), (5L, "b5"), (36L, "b36"))
      .toDF("k", "bv")
    (probe, build)
  }

  test("equals the plain join exactly, duplicates included") {
    val (probe, build) = fixture
    val got = SaltedJoin.inner(probe, build, Seq("k"), salts = 8)
      .groupBy("k", "pv", "bv").count()
    val want = probe.join(build, Seq("k")).groupBy("k", "pv", "bv").count()
    assert(got.unionByName(want).except(got.intersect(want)).isEmpty,
      "salted join result differs from plain join")
    assert(got.count() == want.count())
  }

  test("shuffle key includes the salt when the build side is not broadcast") {
    val (probe, build) = fixture
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = SaltedJoin.inner(probe, build, Seq("k"), salts = 8)
        .queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), s"salt key missing from plan:\n$plan")
      assert(plan.contains("hashpartitioning(k#") || plan.contains("hashpartitioning(k"),
        "expected a hash exchange on (k, salt)")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("reserved salt column is rejected, not silently mis-resolved") {
    import spark.implicits._
    val bad = Seq((1L, 0)).toDF("k", "__salt")
    val ok = Seq((1L, "x")).toDF("k", "v")
    intercept[IllegalArgumentException](SaltedJoin.inner(bad, ok, Seq("k"), 4))
    intercept[IllegalArgumentException](SaltedJoin.inner(ok, bad, Seq("k"), 4))
  }
}
