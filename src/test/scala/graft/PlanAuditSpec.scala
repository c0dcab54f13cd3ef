package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.QueryExecution

import graft.util.{Checkpoints, PlanCapture}

/** Plan-shape regression guards over the whole catalog at sf0.001. Each
  * query is built once; an audit reads its final plan and every plan it
  * executed while it was built (a stage materialized by
  * `localCheckpoint`, a count probe or a vocabulary collect), so a shape
  * hidden behind a checkpoint is still seen. (Broadcast nested-loop
  * joins are allowed: the ANN probes and threshold joins intentionally
  * stream a broadcast small side.) */
class PlanAuditSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  /** per query (name order): its final plan, then every plan it executed */
  private lazy val catalog: Seq[(String, Seq[QueryExecution])] =
    QueryCatalog.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (df, executed) = PlanCapture(spark)(fn(spark, sf))
      df.queryExecution.executedPlan
      // free what this query materialized before the next one is built
      GraftSession.reset(spark)
      name -> (df.queryExecution +: executed.map(_.qe))
    }

  private def offenders(audit: QueryExecution => Boolean): Seq[String] =
    catalog.collect { case (name, plans) if plans.exists(audit) => name }

  /** the plan shape that silently works at test SF and explodes at 100 TB */
  private def cartesian(qe: QueryExecution): Boolean =
    qe.executedPlan.toString.contains("CartesianProduct")

  /** a join keyed on tile2 alone between row-level relations */
  private def bareTile2Join(qe: QueryExecution): Boolean = {
    def aggregated(p: LogicalPlan): Boolean =
      p.collectFirst { case a: Aggregate => a }.isDefined
    qe.optimizedPlan.collectFirst {
      case j: Join if j.condition.exists(c =>
          c.references.nonEmpty && c.references.forall(_.name == "tile2")) &&
        !(aggregated(j.left) || aggregated(j.right)) => j
    }.isDefined
  }

  private val corpusTables =
    "(part|lineitem|orders|customer|supplier|documents|embeddings|events)\\.parquet".r

  /** a broadcast hint over a raw corpus-scaled scan, no aggregate between */
  private def rawCorpusHint(qe: QueryExecution): Boolean =
    qe.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.exists(_.toString.contains("BROADCAST")) => h
    }.exists { h =>
      h.child.collectFirst { case a: Aggregate => a }.isEmpty &&
        h.child.collectLeaves().exists(l => corpusTables.findFirstIn(l.toString).isDefined)
    }

  test("no catalog query plans a CartesianProduct") {
    assert(offenders(cartesian).isEmpty, s"cartesian joins in: ${offenders(cartesian)}")
  }

  test("the executed-plan audit sees a CartesianProduct behind a localCheckpoint") {
    val (df, executed) = PlanCapture(spark) {
      val pairs = spark.range(4).toDF("a").hint("shuffle_replicate_nl")
        .crossJoin(spark.range(4).toDF("b"))
        .localCheckpoint(true)
      pairs.where("a < b")
    }
    try {
      assert(!cartesian(df.queryExecution), "the final plan should only read the checkpoint")
      assert(executed.exists(e => e.action == "localCheckpoint" && cartesian(e.qe)),
        s"executions seen: ${executed.map(_.action)}")
    } finally Checkpoints.free(df)
  }

  test("no catalog query joins on a bare 20° tile key") {
    // A 2-char OLC cell is 20°×20° — one cell holds a subcontinent, so a
    // join keyed on tile2 ALONE between row-level relations is
    // |left|×|right| per cell: quadratic on a planetary corpus even though
    // it passes at test SF. Distance-bounded candidate generation
    // (GeoJoins.pairsWithin / HaversineJoinRule) is the required shape.
    // Tile-AGGREGATE rollup joins (e.g. tile6 counts × tile2 counts, i3)
    // are exempt: their per-cell cardinality is bounded by the tile
    // hierarchy fan-out (≤160k tile6 cells per tile2), not by data volume.
    assert(offenders(bareTile2Join).isEmpty,
      s"joins keyed on tile2 alone in: ${offenders(bareTile2Join)}")
  }

  test("broadcast hints over raw corpus-scaled relations are pinned to known-bounded cases") {
    // An unconditional broadcast() hint materializes its relation on the
    // driver regardless of runtime size. That is fine for relations
    // bounded by something other than data volume (fixed dims like
    // nation/region, aggregates over bounded key spaces, explicit query
    // sets) and a scale-killer for anything that grows with the corpus
    // (the round-5 d5 defect: a hinted vocabulary-sized pair relation).
    // Guard: every broadcast hint whose subtree reaches a RAW scan of a
    // corpus-scaled table with no intervening Aggregate must be on this
    // allowlist, each entry bounded BY CONSTRUCTION:
    //   p5/p6/p13 — the ANN query set, a literal-bounded id slice the
    //   caller chooses (queries are small by the operator's contract).
    // Anything new fails until deliberately added here.
    val allowed = Set("p5_cosine_topk", "p6_ann_lsh", "p13_ann_ivf")
    val unbounded = offenders(rawCorpusHint).filterNot(allowed)
    assert(unbounded.isEmpty,
      s"unbounded broadcast hints (raw corpus scan, no aggregate) in: $unbounded")
  }

  test("selective scans push filters; key-only scan prunes columns; dim joins broadcast") {
    def plan(name: String): String =
      catalog.collectFirst { case (`name`, plans) => plans.head.executedPlan.toString }.get

    // At 100 TB these predicates are the difference between reading a
    // row group and reading the table: they must reach the parquet
    // reader, not evaluate above it.
    for (q <- Seq("a7_pruned_scan", "a9_point_lookup", "a10_log_window",
                  "b1_tombstone_filter")) {
      assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plan(q)).isDefined,
        s"$q: no pushed filters reach the scan")
    }

    // a6 projects one key column; the scan must not read the other 15.
    assert(plan("a6_keys_only").contains("ReadSchema: struct<l_suppkey"),
      "a6: scan reads more than the projected key column")

    // Small-dimension joins must broadcast — a shuffle join here means
    // the big side is exchanged to meet a dimension table.
    for (q <- Seq("d7_enrichment_join", "pl4_merge_scoring"))
      assert(plan(q).contains("BroadcastHashJoin"),
        s"$q: expected a broadcast hash join for the small dimension side")
  }
}
