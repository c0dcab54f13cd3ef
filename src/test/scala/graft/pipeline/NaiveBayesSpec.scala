package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** NaiveBayes.trainPredict against a scalar multinomial NB with the same
  * smoothing, vocab cap, and position-ordered fold, plus the separable-
  * classes sanity check and the scale-critical plan shapes. */
class NaiveBayesSpec extends AnyFunSuite with SharedSpark {

  // the gate test needs a session parallelism of 8
  override protected def cpus = 8

  test("matches the scalar reference; separable classes classify perfectly") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val aWords = Vector("apfel", "birne", "kirsche", "traube")
    val bWords = Vector("apple", "pear", "cherry", "grape")
    val shared = Vector("the", "and")
    def doc(ws: Vector[String]) =
      (Seq.fill(4 + rnd.nextInt(6))(ws(rnd.nextInt(ws.size))) ++
        Seq.fill(2)(shared(rnd.nextInt(2)))).mkString(" ")
    val docs = ((1L to 40L).map(i => (i, doc(aWords), "de")) ++
      (101L to 160L).map(i => (i, doc(bWords), "en")) :+
      ((200L, "", "en"))) // empty doc: prior-only scoring
    val df = docs.toDF("doc_id", "text", "lang")
    val out = NaiveBayes.trainPredict(df, "doc_id", "text", "lang", vocabK = 8)
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getDouble(3))).toMap

    // scalar reference, same conventions end-to-end
    val tokened = docs.map { case (id, t, l) =>
      (id, l, t.split(" ").filter(_.nonEmpty).toSeq)
    }
    val wc = tokened.flatMap(_._3).groupBy(identity).view.mapValues(_.size).toMap
    val vocab = wc.toSeq.sortBy { case (w, c) => (-c, w) }.take(8).map(_._1).toSet
    val mapped = tokened.map { case (id, l, ws) =>
      (id, l, ws.map(w => if (vocab(w)) w else ""))
    }
    val classes = docs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val nDocs = docs.size.toDouble
    val ct = mapped.flatMap { case (_, l, ts) => ts.map(t => (l, t)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tc = ct.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val v = mapped.flatMap(_._3).distinct.size.toLong
    val want = mapped.map { case (id, _, ts) =>
      val scored = classes.keys.toSeq.sorted.map { c =>
        var s = math.log(classes(c).toDouble / nDocs)
        ts.foreach { t =>
          s += math.log((ct.getOrElse((c, t), 0L) + 1L).toDouble /
            (tc.getOrElse(c, 0L) + v).toDouble)
        }
        (c, s)
      }
      val (bc, bs) = scored.minBy { case (c, s) => (-s, c) }
      id -> (bc, BigDecimal(bs).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    assert(got == want)

    // fully separable vocabularies → perfect self-classification, and
    // the empty doc falls back to the majority-prior class (en: 61>40)
    docs.foreach { case (id, t, l) =>
      if (t.nonEmpty) assert(got(id)._1 == l, s"doc $id: ${got(id)} vs $l")
    }
    assert(got(200L)._1 == "en")

    // scale shapes: the count table joins broadcast (corpus rows never
    // reshuffle for model lookup), and the vocab cut is a distributed
    // TakeOrdered, not a single-task global window
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("under-parallel gate: fires only for multi-partition inputs below half parallelism") {
    // round-13 scale-parallelism gate: a single-partition input (< one
    // input split of data) keeps the measured-faster serial shape; a
    // multi-partition input well below the session parallelism gets the
    // training passes widened.
    assert(!NaiveBayes.underParallel(1, 32))   // sub-split local corpus
    assert(NaiveBayes.underParallel(4, 32))    // pre-split but coalesced
    assert(NaiveBayes.underParallel(2, 8))
    assert(!NaiveBayes.underParallel(16, 32))  // already near-parallel
    assert(!NaiveBayes.underParallel(64, 32))  // pre-split production scan
  }

  test("repartitioned multi-partition input classifies identically") {
    // the gate fires (3 partitions < 8/2) and must not change a single
    // prediction or posterior — training is count aggregation, scoring a
    // position-ordered fold, both partitioning-independent by design
    import spark.implicits._
    val docs = (1L to 60L).map(i =>
      (i, if (i % 2 == 0) "apple pear apple" else "apfel birne apfel",
        if (i % 2 == 0) "en" else "de"))
    val one = docs.toDF("doc_id", "text", "lang").coalesce(1)
    val multi = docs.toDF("doc_id", "text", "lang").repartition(3)
    assert(multi.rdd.getNumPartitions == 3 &&
      NaiveBayes.underParallel(3, spark.sparkContext.defaultParallelism))
    def run(df: org.apache.spark.sql.DataFrame) =
      NaiveBayes.trainPredict(df, "doc_id", "text", "lang", vocabK = 4)
        .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
    assert(run(one) == run(multi))
  }
}
