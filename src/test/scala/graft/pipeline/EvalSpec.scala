package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Eval operators against hand math: NDCG on a fixed ranked list (perfect
  * ranking → 1.0, inverted ranking < 1, no-relevant → 0) and per-class
  * precision/recall/F1 on a hand-built confusion matrix, including the
  * never-predicted and never-true class rows. */
class EvalSpec extends AnyFunSuite {

  private def session() = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("eval-spec")
    .getOrCreate()

  private def log2(x: Double) = math.log(x) / math.log(2.0)
  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("ndcg: perfect, inverted, and empty relevance") {
    val spark = session()
    import spark.implicits._
    try {
      // q1: rel at ranks 1,2 of 4 (perfect); q2: rel at ranks 3,4
      // (worst placement); q3: nothing relevant
      val rows = Seq(
        (1L, 1, 1), (1L, 2, 1), (1L, 3, 0), (1L, 4, 0),
        (2L, 1, 0), (2L, 2, 0), (2L, 3, 1), (2L, 4, 1),
        (3L, 1, 0), (3L, 2, 0))
        .toDF("query_id", "rank", "rel")
      val out = Eval.ndcg(rows, "query_id", "rank", col("rel") === 1)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(3))).toMap

      val idcg2 = 1.0 / log2(2.0) + 1.0 / log2(3.0)
      assert(out(1L) == ((2, 1.0)))
      val dcg2 = 1.0 / log2(4.0) + 1.0 / log2(5.0)
      assert(out(2L) == ((2, r6(dcg2 / idcg2))))
      assert(out(2L)._2 < 1.0)
      assert(out(3L) == ((0, 0.0)))
    } finally spark.stop()
  }

  test("rocAuc: perfect, inverted, tied, and degenerate inputs") {
    val spark = session()
    import spark.implicits._
    try {
      def auc(rows: Seq[(Double, Boolean)]): (Long, Long, Double) =
        Eval.rocAuc(rows.toDF("score", "y"), "score", col("y"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).head
      // perfect separation
      assert(auc(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false)))
        == ((2L, 2L, 1.0)))
      // inverted
      assert(auc(Seq((0.9, false), (0.8, false), (0.2, true), (0.1, true)))
        == ((2L, 2L, 0.0)))
      // ties take average rank: pos at 0.5 ties one neg at 0.5 →
      // pairs = (0.5pos vs 0.1neg: win) + (0.5 vs 0.5: half) = 1.5/2
      assert(auc(Seq((0.5, true), (0.5, false), (0.1, false)))
        == ((1L, 2L, 0.75)))
      // hand case: P=2, N=2, one concordant + one discordant + two wins
      // scores: pos 0.8, 0.3; neg 0.6, 0.1 → pairs won: (0.8>0.6),
      // (0.8>0.1), (0.3>0.1) = 3 of 4 → 0.75
      assert(auc(Seq((0.8, true), (0.3, true), (0.6, false), (0.1, false)))
        == ((2L, 2L, 0.75)))
      // degenerate: single class scores the 0.5 convention
      assert(auc(Seq((0.9, true), (0.1, true))) == ((2L, 0L, 0.5)))
    } finally spark.stop()
  }

  test("calibrationBins: hand-computed bins; score 1.0 lands in the top bin") {
    val spark = session()
    import spark.implicits._
    try {
      val rows = Seq(
        (0.05, false), (0.08, true),           // bin 0: n=2, pos=1
        (0.55, true), (0.52, true), (0.58, false), // bin 5: n=3, pos=2
        (1.0, true))                           // bin 9 (not a phantom bin 10)
      val got = Eval.calibrationBins(rows.toDF("score", "y"), "score",
          col("y"), nBins = 10)
        .collect()
        .map(r => r.getInt(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
      assert(got.keySet == Set(0, 5, 9))
      assert(got(0) == ((2L, 1L, 0.065, 0.5, 0.435)))
      assert(got(5) == ((3L, 2L, r6(0.55), r6(2.0 / 3), r6(2.0 / 3 - 0.55))))
      assert(got(9) == ((1L, 1L, 1.0, 1.0, 0.0)))
    } finally spark.stop()
  }

  test("classifierEval: hand confusion matrix incl. degenerate classes") {
    val spark = session()
    import spark.implicits._
    try {
      // truth→pred: a→a ×3, a→b ×1, b→b ×2, b→a ×1, c→b ×1
      // class d is predicted once but never true
      val t = Seq(("a", "a"), ("a", "a"), ("a", "a"), ("a", "b"),
        ("b", "b"), ("b", "b"), ("b", "a"), ("c", "b"), ("a", "d"))
        .toDF("truth", "pred")
      val out = Eval.classifierEval(t, "truth", "pred")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3),
           r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap

      // a: tp=3, fp=1 (b→a), fn=2 (a→b, a→d)
      val (pa, ra) = (3.0 / 4.0, 3.0 / 5.0)
      assert(out("a") == ((3L, 1L, 2L, r6(pa), r6(ra),
        r6(2 * pa * ra / (pa + ra)))))
      // c: never predicted → precision 0, recall 0, f1 0 (guards, not NaN)
      assert(out("c") == ((0L, 0L, 1L, 0.0, 0.0, 0.0)))
      // d: predicted once, never true → fp=1, fn=0
      assert(out("d") == ((0L, 1L, 0L, 0.0, 0.0, 0.0)))
    } finally spark.stop()
  }

  test("classifierEval: a null truth or pred class counts 0, never null") {
    val spark = session()
    import spark.implicits._
    try {
      // the null-truth row has no hit value, so every contribution it makes
      // is null; its classes still sum to 0
      val t = Seq((null, "a"), ("a", "a"), ("b", null)).toDF("truth", "pred")
      val out = Eval.classifierEval(t, "truth", "pred")
        .collect().map(r => Option(r.getString(0)) ->
          ((r.get(1), r.get(2), r.get(3)))).toMap
      assert(out(Some("a")) == ((1L, 0L, 0L)))
      assert(out(Some("b")) == ((0L, 0L, 0L)))
      assert(out(None) == ((0L, 0L, 0L)))
    } finally spark.stop()
  }
}
