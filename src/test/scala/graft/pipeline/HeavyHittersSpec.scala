package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** HeavyHitters.frequentItems: exactness against brute force, the
  * threshold boundary (count == N/k excluded, one more included), and
  * partitioning invariance under adversarial spreads of a barely-heavy
  * item — the superset guarantee the two-pass design rests on. */
class HeavyHittersSpec extends AnyFunSuite with SharedSpark {

  test("exact output at the threshold boundary, invariant to partitioning") {
    import spark.implicits._
    // N = 1000, k = 10 → threshold: cnt > 100.
    // "above" has 101 (in), "edge" exactly 100 (out), the rest filler.
    val rnd = new scala.util.Random(17)
    val items = rnd.shuffle(
      Seq.fill(101)("above") ++ Seq.fill(100)("edge") ++
        Seq.fill(300)("mid") ++ // clearly in: 300 > 100
        (1 to 499).map(i => s"tail${i % 250}")) // 250 tail items, ~2 each
    assert(items.size == 1000)

    def run(parts: Int) = HeavyHitters.frequentItems(
        items.toDF("word").repartition(parts), "word", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

    val want = items.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 10 > 1000 }.toSet
    assert(want == Set("above" -> 101L, "mid" -> 300L))
    // adversarial spreads: one partition, a few, many (heavy item
    // diluted to ~3 occurrences per partition at 32)
    Seq(1, 4, 32).foreach { p =>
      assert(run(p) == want, s"partitions=$p")
    }
  }

  test("empty and all-light inputs yield no hitters") {
    import spark.implicits._
    assert(HeavyHitters.frequentItems(
      Seq.empty[String].toDF("word"), "word", 5).collect().isEmpty)
    // 100 distinct items once each, k=5 → threshold cnt > 20: none qualify
    val light = (1 to 100).map(i => s"w$i").toDF("word")
    assert(HeavyHitters.frequentItems(light, "word", 5).collect().isEmpty)
  }
}
