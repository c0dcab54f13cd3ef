package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** BloomJoin.semiJoin against the plain left_semi join (must be equal —
  * no false negatives), the prefilter's actual pruning power on a
  * selective build side, multi-column keys, and the empty-build edge. */
class BloomJoinSpec extends AnyFunSuite with SharedSpark {

  test("equals the exact semi-join; the bloom pass actually prunes") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val probe = (1L to 20000L).map(i => (i, rnd.nextInt(5000).toLong))
      .toDF("row_id", "key")
    // selective build side: 50 of 5000 possible keys
    val build = rnd.shuffle((0L until 5000L).toVector).take(50)
      .map(k => (k, s"dim$k")).toDF("bkey", "payload")

    val got = BloomJoin.semiJoin(probe, build,
        probeKeys = Seq("key"), buildKeys = Seq("bkey"), expectedItems = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = probe.join(build, probe("key") === build("bkey"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want)

    // the prefilter alone: a SUPERSET of matches, far smaller than probe
    val bf = BloomJoin.buildFilter(build, Seq("bkey"), expectedItems = 1000L).get
    val pre = BloomJoin.prefilter(probe, bf, Seq("key")).count()
    assert(pre >= want.size,
      "bloom prefilter dropped a true match (false negative!)")
    assert(pre < probe.count() / 5,
      s"bloom prefilter pruned too little: $pre of 20000")
  }

  test("multi-column keys hash as a tuple, not independently") {
    import spark.implicits._
    val probe = Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 1L))
      .toDF("row_id", "k1", "k2")
    // (a,2) and (b,1) present — (a,1) must NOT match even though both
    // components appear somewhere in the build side
    val build = Seq(("a", 2L), ("b", 1L)).toDF("k1", "k2")
    val got = BloomJoin.semiJoin(probe, build, Seq("k1", "k2"), Seq("k1", "k2"),
        expectedItems = 10L)
      .select("row_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 3L))
  }

  test("empty build side yields an empty result, not a null-blob error") {
    import spark.implicits._
    val probe = Seq((1L, 1L)).toDF("row_id", "key")
    val build = Seq.empty[(Long, String)].toDF("bkey", "payload")
    assert(BloomJoin.semiJoin(probe, build, Seq("key"), Seq("bkey")).count() == 0)
  }
}
