package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import graft.SharedSpark

/** Cohort retention and ordered funnel against hand math — including the
  * semantics that distinguish them from naive counts: retention is
  * distinct-user per (cohort, offset), and the funnel requires each step
  * STRICTLY AFTER the previous step's earliest completion (a click
  * before the first view does not convert). */
class EventAnalyticsSpec extends AnyFunSuite with SharedSpark {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("cohortRetention: first-week cohorts, distinct actives, exact ratios") {
    import spark.implicits._
    // 2024-01-01 is a Monday. u1, u2 start week 0; u3 starts week 1.
    // u1 active weeks 0,1 (twice in w1 — distinct!); u2 only week 0;
    // u3 active weeks 1,2.
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-08 10:00:00")),
      (1L, ts("2024-01-09 11:00:00")),
      (2L, ts("2024-01-02 10:00:00")),
      (3L, ts("2024-01-10 10:00:00")), (3L, ts("2024-01-15 10:00:00")))
      .toDF("user_id", "ts")
    val out = EventAnalytics.cohortRetention(events, "user_id", "ts")
      .collect().map(r => ((r.getDate(0).toString, r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap

    assert(out(("2024-01-01", 0)) == ((2L, 2L, 1.0)))      // u1, u2
    assert(out(("2024-01-01", 1)) == ((1L, 2L, 0.5)))      // u1 only
    assert(out(("2024-01-08", 0)) == ((1L, 1L, 1.0)))      // u3
    assert(out(("2024-01-08", 1)) == ((1L, 1L, 1.0)))      // u3
    assert(out.size == 4)
  }

  test("transitionMatrix: per-user sequences, exact counts and row-normalized p") {
    import spark.implicits._
    // u1: a→b→a (transitions a→b, b→a); u2: a→b (a→b).
    // NO cross-user transition between u1's last and u2's first event.
    val events = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"),
      (2L, 4L, "a"), (2L, 5L, "b"))
      .toDF("user_id", "event_id", "event_type")
    val out = EventAnalytics.transitionMatrix(events, "user_id",
        "event_id", "event_type")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("a", "b")) == ((2L, 2L, 1.0)))
    assert(out(("b", "a")) == ((1L, 1L, 1.0)))
    assert(out.size == 2)
  }

  test("ewma: seeded recursive fold in order-column order, scalar parity") {
    import spark.implicits._
    // deliberately out-of-order event ids in the input rows: the fold
    // must follow event_id order, not arrival order
    val events = Seq(
      (1L, 3L, 30.0), (1L, 1L, 10.0), (1L, 2L, 20.0),
      (2L, 1L, 5.0))
      .toDF("user_id", "event_id", "value")
    val out = EventAnalytics.ewma(events, "user_id", "event_id",
        "value", alpha = 0.25)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    // u1: seed 10 → 0.75·10+0.25·20 = 12.5 → 0.75·12.5+0.25·30 = 16.875
    assert(out(1L) == ((3, 16.875)))
    // single event: EWMA = the value itself
    assert(out(2L) == ((1, 5.0)))
  }

  test("ewmaSliced: equals ewma on a skewed fixture; sliceSize=1 is bit-identical") {
    import spark.implicits._
    // skewed: user 1 is a 5000-event bot, users 2-4 are normal-sized —
    // the exact shape the whole-sequence collect_list buffers badly
    val rnd = new scala.util.Random(7)
    val events = ((1 to 5000).map(i => (1L, i.toLong, rnd.nextInt(400) / 4.0)) ++
      Seq((2L, 1L, 5.0), (3L, 1L, 10.0), (3L, 2L, 20.0), (3L, 3L, 30.0),
        (4L, 2L, 8.0), (4L, 1L, 4.0)))
      .toDF("user_id", "event_id", "value")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val whole = asMap(EventAnalytics.ewma(events, "user_id", "event_id",
      "value", alpha = 0.25))
    // regrouped slices agree after the shared round-to-6 contract
    val sliced = asMap(EventAnalytics.ewmaSliced(events, "user_id",
      "event_id", "value", alpha = 0.25, sliceSize = 32))
    assert(sliced == whole)
    // sliceSize=1 executes ewma's exact op sequence → bit-identical
    val unit = asMap(EventAnalytics.ewmaSliced(events, "user_id",
      "event_id", "value", alpha = 0.25, sliceSize = 1))
    assert(unit == whole)
    // scalar ground truth for the bot user
    var y = 0.0; var first = true
    val botVals = { val r2 = new scala.util.Random(7)
      (1 to 5000).map(_ => r2.nextInt(400) / 4.0) }
    botVals.foreach { v =>
      if (first) { y = v; first = false } else y = y * 0.75 + v * 0.25 }
    assert(math.abs(whole(1L)._2 - y) < 1e-6 && whole(1L)._1 == 5000)
    assert(whole(3L) == ((3, 16.875)))
  }

  test("funnel: strict ordering — pre-view clicks do not convert") {
    import spark.implicits._
    // u1: full ordered funnel. u2: clicked BEFORE viewing — the click
    // does not count, and no later click exists → stops at view.
    // u3: view then purchase without click → stops at view.
    // u4: never viewed → not even step 1.
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:05:00"), "click"),
      (1L, ts("2024-01-01 10:10:00"), "purchase"),
      (2L, ts("2024-01-01 09:00:00"), "click"),
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (3L, ts("2024-01-01 10:00:00"), "view"),
      (3L, ts("2024-01-01 11:00:00"), "purchase"),
      (4L, ts("2024-01-01 10:00:00"), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val out = EventAnalytics.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1) == (("view", 3L)))       // u1, u2, u3
    assert(out(2) == (("click", 1L)))      // u1 only
    assert(out(3) == (("purchase", 1L)))   // u1 only
  }
}
