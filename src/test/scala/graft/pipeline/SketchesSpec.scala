package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Count-Min sketch invariants: one-sided error (never underestimates),
  * exactness when the sketch is wide enough to avoid collisions, the
  * cell-wise mergeability that makes it shard/stream-composable, and the
  * zero estimate for untouched cells. */
class SketchesSpec extends AnyFunSuite with SharedSpark {

  private def itemStream(rnd: scala.util.Random, n: Int) =
    (1 to n).map(_ => s"w${rnd.nextInt(80)}")

  test("estimates never underestimate, and a wide sketch is exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val items = itemStream(rnd, 5000)
    val df = items.toDF("item")
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val probes = exact.keys.toSeq.toDF("item")

    // narrow sketch: admissible (est >= true) on EVERY item
    val narrow = Sketches.countMin(df, "item", depth = 4, width = 16)
    val estN = Sketches.estimate(narrow, probes, "item", 4, 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (it, c) =>
      assert(estN(it) >= c, s"$it: CMS ${estN(it)} < true $c")
    }

    // wide sketch (4 x 4096 over 80 distinct items): collisions are
    // possible per row but the MIN over 4 independent rows recovers the
    // exact count for this fixture
    val wide = Sketches.countMin(df, "item", depth = 4, width = 4096)
    val estW = Sketches.estimate(wide, probes, "item", 4, 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estW == exact)
  }

  test("sketches merge by cell-wise addition: shard-built == whole-built") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val items = itemStream(rnd, 3000)
    val (a, b) = items.splitAt(1400)
    val skA = Sketches.countMin(a.toDF("item"), "item", 4, 64)
    val skB = Sketches.countMin(b.toDF("item"), "item", 4, 64)
    val merged = skA.unionByName(skB)
      .groupBy("j", "bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = Sketches.countMin(items.toDF("item"), "item", 4, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
  }

  test("an item the sketch never saw estimates from untouched cells") {
    import spark.implicits._
    val sk = Sketches.countMin(Seq("a", "b", "a").toDF("item"), "item", 4, 4096)
    val est = Sketches.estimate(sk, Seq("a", "zzz-unseen").toDF("item"), "item", 4, 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("a") == 2L)
    // 3 items can touch at most 3 of 4096 buckets per row: the unseen
    // item's min is 0 w.h.p. (and never negative by construction)
    assert(est("zzz-unseen") == 0L)
  }

  test("kmv: small sets are exact; a sketch holds at most k ranked hashes") {
    import spark.implicits._
    val rows = (1 to 50).map(i => ("a", s"item$i")) ++
      (26 to 120).map(i => ("b", s"item$i"))
    val sk = Sketches.kmv(rows.toDF("grp", "it"), "grp", "it", k = 64)
    val perKey = sk.groupBy("key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perKey("a") == 50 && perKey("b") == 64)
    val pairs = Seq(("a", "b")).toDF("key_a", "key_b")
    val est = Sketches.kmvIntersect(sk, pairs, k = 64).collect().head
    // |A∪B| = 120 > k: estimate regime for the union; ρ counts shared
    // hashes among the 64 smallest of the union
    val unionEst = est.getAs[Long]("union_est")
    val interEst = est.getAs[Long]("inter_est")
    assert(math.abs(unionEst - 120) <= 40, s"union_est=$unionEst")
    assert(math.abs(interEst - 25) <= 15, s"inter_est=$interEst")

    // exact regime: tiny disjoint-ish sets, union under k
    val tiny = Seq(("x", "p"), ("x", "q"), ("x", "r"),
      ("y", "q"), ("y", "r"), ("y", "s")).toDF("grp", "it")
    val tsk = Sketches.kmv(tiny, "grp", "it", k = 64)
    val t = Sketches.kmvIntersect(tsk, Seq(("x", "y")).toDF("key_a", "key_b"), 64)
      .collect().head
    assert(t.getAs[Long]("union_est") == 4 && t.getAs[Long]("inter_est") == 2)
  }

  test("kmv: estimate accuracy at k=128 over 2000-element sets; merge = sketch of union") {
    import spark.implicits._
    val a = (1 to 2000).map(i => ("a", s"doc$i"))
    val b = (1501 to 3500).map(i => ("b", s"doc$i")) // |∩|=500, |∪|=3500
    val sk = Sketches.kmv((a ++ b).toDF("grp", "it"), "grp", "it", k = 128)
    val est = Sketches.kmvIntersect(sk,
      Seq(("a", "b")).toDF("key_a", "key_b"), k = 128).collect().head
    val u = est.getAs[Long]("union_est"); val i = est.getAs[Long]("inter_est")
    // σ ≈ |∪|/√(k−2) ≈ 312; allow 3σ
    assert(math.abs(u - 3500) <= 950, s"union_est=$u")
    assert(math.abs(i - 500) <= 300, s"inter_est=$i")

    // the k smallest of the two sketches' union IS the union's sketch
    val whole = (a ++ b).map { case (_, it) => ("w", it) }
    val wholeSk = Sketches.kmv(whole.toDF("grp", "it"), "grp", "it", k = 128)
      .select("ih").as[Long].collect().toSet
    val mergedTop = sk.select("ih").distinct().as[Long].collect()
      .sorted.take(128).toSet
    assert(mergedTop == wholeSk)

    // SPARK-37099: the per-group cut runs as a Partial WindowGroupLimit
    val plan = sk.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      plan.take(2000))
  }
}
