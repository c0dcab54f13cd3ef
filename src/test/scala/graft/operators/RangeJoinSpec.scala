package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** RangeJoin.overlap against the naive inequality join: exact pair set,
  * exactly-once emission (intervals spanning many buckets must not
  * duplicate), inclusive-bound semantics, and the reserved-column guard. */
class RangeJoinSpec extends AnyFunSuite with SharedSpark {

  private def randomIntervals(rnd: scala.util.Random, n: Int, idBase: Long) =
    (1 to n).map { i =>
      val key = rnd.nextInt(5).toLong
      val start = rnd.nextInt(10000).toLong
      // width mix: points, short, and long tails spanning many buckets
      val len = rnd.nextInt(3) match {
        case 0 => 0L
        case 1 => rnd.nextInt(80).toLong
        case _ => 500L + rnd.nextInt(2000)
      }
      (idBase + i, key, start, start + len)
    }

  test("matches the naive inequality join exactly, each pair once") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val l = randomIntervals(rnd, 300, 0).toDF("id", "k", "start", "end")
    val r = randomIntervals(rnd, 300, 10000).toDF("id", "k", "start", "end")

    val got = RangeJoin.overlap(l, r, Seq("k"), "start", "end", bucketWidth = 100L)
      .select($"l_id", $"r_id", $"overlap").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2))

    // exactly-once: no duplicate pairs even for multi-bucket intervals
    assert(got.length == got.map(_._1).distinct.length)

    val want = l.as("l").join(r.as("r"),
        $"l.k" === $"r.k" && $"l.start" <= $"r.end" && $"r.start" <= $"l.end")
      .select($"l.id", $"r.id",
        (least($"l.end", $"r.end") - greatest($"l.start", $"r.start")).as("ov"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(got.toMap == want)
    assert(want.nonEmpty && want.values.exists(_ == 0L),
      "fixture should exercise inclusive touching bounds (overlap 0)")
  }

  test("keys separate groups: same times under different keys never pair") {
    import spark.implicits._
    val l = Seq((1L, 1L, 0L, 100L)).toDF("id", "k", "start", "end")
    val r = Seq((2L, 2L, 50L, 60L)).toDF("id", "k", "start", "end")
    assert(RangeJoin.overlap(l, r, Seq("k"), "start", "end", 100L).count() == 0)
  }

  test("reserved scratch columns are rejected") {
    import spark.implicits._
    val bad = Seq((1L, 1L, 0L, 1L, "x")).toDF("id", "k", "start", "end", "__bucket")
    val ok = Seq((1L, 1L, 0L, 1L)).toDF("id", "k", "start", "end")
    val e = intercept[IllegalArgumentException] {
      RangeJoin.overlap(bad, ok, Seq("k"), "start", "end", 10L)
    }
    assert(e.getMessage.contains("__bucket"))
  }
}
