package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Evaluation operators — the measurement half every retrieval /
  * classification pipeline ships with its operators: NDCG for ranked
  * lists, per-class precision/recall/F1 for classifiers. Both are
  * count-shaped aggregations (map-side combinable, bounded outputs) with
  * fixed-order float folds so an external oracle reproduces every score.
  */
object Eval {

  /** NDCG per query over a ranked relation (queryCol, rankCol asc = best
    * first, relCol ∈ {0,1}): DCG folds rel_i / (ln(i+1)/ln 2) in RANK
    * order; IDCG re-ranks the retrieved list ideally (all relevant
    * first), so it is Σ_{i≤n_rel} 1/(ln(i+1)/ln 2) — computed as an
    * index-ordered fold too. A query with no relevant results scores 0.
    * log2 is spelled ln(x)/ln(2) so both engines run the identical IEEE
    * ops (a native log2 may differ in the last ulp). */
  def ndcg(ranked: DataFrame, queryCol: String, rankCol: String,
           rel: Column): DataFrame = {
    val ln2 = log(lit(2.0))
    val byQuery = ranked
      .select(col(queryCol).as("query_id"), col(rankCol).as("rank"),
        rel.cast("int").as("rel"))
      .groupBy("query_id")
      .agg(
        sum(col("rel")).cast("int").as("n_rel"),
        aggregate(
          sort_array(collect_list(struct(col("rank"),
            (col("rel").cast("double") / (log(col("rank") + 1.0) / ln2))
              .as("g")))),
          lit(0.0), (acc, x) => acc + x.getField("g")).as("dcg"))
    byQuery.select(col("query_id"), col("n_rel"),
      round(col("dcg"), 6).as("dcg"),
      round(when(col("n_rel") > 0,
        col("dcg") / aggregate(sequence(lit(1), col("n_rel")),
          lit(0.0), (acc, i) => acc +
            lit(1.0) / (log(i.cast("double") + 1.0) / ln2)))
        .otherwise(0.0), 6).as("ndcg"))
  }

  /** ROC-AUC from a (score, binary label) relation — the Mann–Whitney
    * rank statistic with average-rank tie handling, computed over the
    * score HISTOGRAM in exact integer arithmetic:
    *
    *   2·P·N·AUC = Σ_s pos_s · (2·neg_below(s) + neg_s)
    *
    * (each positive beats every lower-scored negative once and ties
    * every equal-scored negative half, doubled to stay integral).
    *
    * Scale shape: the corpus never sorts — one (score → pos/neg counts)
    * hash aggregate (map-side combinable, bounded by DISTINCT score
    * values; callers pass rounded scores, the same contract as the
    * histogram-cutoff CCNet buckets), one running window over that
    * bounded histogram, one scalar aggregate. Degenerate inputs (no
    * positives or no negatives) score the conventional 0.5. */
  def rocAuc(df: DataFrame, scoreCol: String, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.select(col(scoreCol).as("s"), label.cast("int").as("y"))
      .groupBy("s")
      .agg(sum(col("y")).as("pos"), sum(lit(1) - col("y")).as("neg"))
    // global window over the bounded histogram relation, not the corpus
    val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    hist.withColumn("neg_below", coalesce(sum("neg").over(w), lit(0L)))
      .agg(sum("pos").as("n_pos"), sum("neg").as("n_neg"),
        sum(col("pos") * (lit(2) * col("neg_below") + col("neg"))).as("u2"))
      .select(col("n_pos"), col("n_neg"),
        round(when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u2").cast("double")
            / (lit(2.0) * col("n_pos") * col("n_neg")))
          .otherwise(0.5), 6).as("auc"))
  }

  /** Calibration (reliability) bins for scores in [0, 1]: `nBins`
    * equal-width buckets, per bin the count, exact positive count, mean
    * score, empirical positive rate, and |mean − rate| (the reliability
    * gap — what a calibration curve plots). Mean scores sum as
    * DECIMAL(20,6) so the fold is associative and order-free (the h12
    * integer-cents discipline); a score of exactly 1.0 lands in the top
    * bin. One hash aggregate, |bins| output rows. */
  def calibrationBins(df: DataFrame, scoreCol: String, label: Column,
                      nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins=$nBins")
    // clamp BOTH edges: a score of exactly 1.0 lands in the top bin, and
    // an out-of-contract score below 0 lands in bin 0 instead of silently
    // minting a negative bin id (the documented [0,1] contract holds for
    // every in-range input either way)
    val d = df.select(col(scoreCol).as("s"), label.cast("long").as("y"))
      .withColumn("bin",
        greatest(lit(0), least(floor(col("s") * nBins), lit(nBins - 1)))
          .cast("int"))
    d.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        sum(col("s").cast("decimal(20,6)")).as("ssum"))
      // exact decimal SUM → one double cast → one IEEE division: both
      // engines run the identical op sequence (decimal DIVISION scale
      // rules differ between engines; decimal-sum-then-double does not)
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("ssum").cast("double") / col("n"), 6).as("mean_score"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"),
        round(abs(col("ssum").cast("double") / col("n")
          - col("n_pos").cast("double") / col("n")), 6).as("gap"))
  }

  /** Per-class precision/recall/F1 from a (truth, prediction) relation.
    * Classes = the distinct truth ∪ prediction values, so a class the
    * model never predicts (or invents) still gets a row. All ratios are
    * single double divisions of exact counts; F1 computes from the
    * UNROUNDED precision/recall (same expression shape as the oracle)
    * and every output rounds to 6. */
  def classifierEval(preds: DataFrame, truthCol: String,
                     predCol: String): DataFrame = {
    // ONE pass (round 13): each row contributes to exactly two classes —
    // its truth (tp when correct, else fn) and its pred (fp when wrong;
    // a zero contribution when correct, which still instantiates the
    // class row) — so the whole confusion matrix is one explode(2) + one
    // hash aggregation keyed on cls. The class universe falls out for
    // free: a class exists iff it appears as somebody's truth or pred,
    // exactly the former distinct(truth ∪ pred). The r11/r12 shape —
    // class-universe union-distinct + three filtered aggregations + three
    // left joins over a persisted (truth, pred) projection — re-read that
    // projection five times (the persist it needed is gone with them:
    // `preds` is typically a full train+predict pipeline, and without a
    // persist the upstream DAG re-executed five times — now it executes
    // once, lazily, inside whoever materializes the result). Map-side
    // partials collapse the 2-per-row contributions to ≤ 2·|classes| rows
    // per partition before the single exchange (guide §2.3/§2.4).
    val t = preds.select(col(truthCol).as("truth"), col(predCol).as("pred"))
    val hit = (col("truth") === col("pred")).cast("long")
    val j = t.select(explode(array(
        struct(col("truth").as("cls"), hit.as("tp"), lit(0L).as("fp"),
          (lit(1L) - hit).as("fn")),
        struct(col("pred").as("cls"), lit(0L).as("tp"),
          (lit(1L) - hit).as("fp"), lit(0L).as("fn")))).as("e"))
      .groupBy(col("e.cls").as("cls"))
      // a null truth or pred leaves a class only null contributions: 0, not null
      .agg(coalesce(sum("e.tp"), lit(0L)).as("tp"),
        coalesce(sum("e.fp"), lit(0L)).as("fp"),
        coalesce(sum("e.fn"), lit(0L)).as("fn"))
    val p = when(col("tp") + col("fp") > 0,
      col("tp").cast("double") / (col("tp") + col("fp"))).otherwise(0.0)
    val r = when(col("tp") + col("fn") > 0,
      col("tp").cast("double") / (col("tp") + col("fn"))).otherwise(0.0)
    j.select(col("cls"), col("tp"), col("fp"), col("fn"),
      round(p, 6).as("prec"), round(r, 6).as("recall"),
      round(when(p + r > 0, lit(2.0) * p * r / (p + r)).otherwise(0.0), 6)
        .as("f1"))
  }
}
