package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Checkpoints

/** HITS (Kleinberg 1999) — hubs and authorities by mutual reinforcement:
  * a node is a good AUTHORITY when good hubs point at it, a good HUB
  * when it points at good authorities. The directional companion to
  * PageRank ([[PageRank]]): on a trade graph it separates "many buyers
  * trust this supplier" (authority) from "this buyer samples many good
  * suppliers" (hub) — two signals PageRank's single score conflates.
  *
  * Fixed-point integer recurrence (the p46 discipline): scores live on a
  * 2²⁰ grid, each half-round is one edge join + integer-sum aggregate,
  * and normalization divides by the round's max score with integer
  * division — every value is a pure function of the data, independent of
  * partitioning and engine. Max intermediate: 2²⁰·maxdeg·2²⁰ ≪ 2⁶³.
  *
  * Scale shape: the edge relation persists TWICE, once partitioned by
  * `src` (the authority half joins on src) and once by `dst` (the hub
  * half joins on dst) — 2× edge memory buys co-partitioned joins in BOTH
  * directions, so per half-round only (node, score) longs move. With a
  * single src-partitioned copy the hub half would exchange the full edge
  * relation by dst every round the score relation outgrows broadcast —
  * exactly the "ship the links" shape PageRank documents avoiding, and
  * the dominant cost at web scale. The normalizing max is a broadcast
  * scalar.
  *
  * Zero-score rows are REPRESENTED BY ABSENCE in the per-round
  * relations: a node all of whose in-(out-)neighbors carry score 0
  * contributes nothing to any later sum or max, so the per-round
  * node-relation zero-fill the recurrence is usually written with is
  * deferred to one left-join in the final select — two node-sized joins
  * saved per round, bit-identical output.
  *
  * Each half-round `localCheckpoint`s (eager): the plan would otherwise
  * double per round (each round references the previous twice), and the
  * checkpoint gives a materialization point after which the PREVIOUS
  * round's blocks are provably unreferenced and are freed immediately —
  * peak cache is two score relations plus the two edge copies, not
  * 2·rounds relations. The final round's two checkpoints stay cached:
  * they are the returned working set (the [[graft.pipeline.Bpe]]
  * convention), freed when the caller drops caches.
  */
object Hits {

  /** `rounds` full hub↔authority iterations over the directed `edges`.
    * Returns (node, authority, hub) in float units, rounded to 6. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds=$rounds")
    val one = 1048576L
    val sc = edges.sparkSession.sparkContext
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
    val eBySrc = e0.repartition(col("src")).persist()
    // derived from the PERSISTED src copy, not from e0: the two copies
    // materialize in separate jobs (round 1's authority half, then its hub
    // half), and a second lineage from e0 re-runs the scan + distinct of
    // the whole edge relation instead of re-reading the cached copy
    val eByDst = eBySrc.repartition(col("dst")).persist()
    val nodes = eBySrc.select(col("src").as("node"))
      .union(eBySrc.select(col("dst").as("node"))).distinct().persist()
    // divide by the round's max — over the rows PRESENT, which is the max
    // over all nodes too (absent rows are zeros, and raw sums of positive
    // h/a are positive for at least one node on any nonempty edge set)
    def normalize(raw: DataFrame, c: String): DataFrame = {
      val m = raw.agg(max(c).as("m"))
      raw.crossJoin(broadcast(m))
        .select(col("node"), expr(s"$c * $one div m").as(c))
    }
    var h = nodes.select(col("node"), lit(one).as("h"))
    var a: DataFrame = h // placeholder; rounds >= 1 always overwrites
    var prevIds: Seq[Int] = Nil
    for (_ <- 1 to rounds) {
      a = normalize(
        eBySrc.join(h.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(sum("h").as("a")), "a")
        .localCheckpoint()
      h = normalize(
        eByDst.join(a.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node")).agg(sum("a").as("h")), "h")
        .localCheckpoint()
      // both halves of this round are materialized — the previous
      // round's checkpoints are unreferenced from here on
      val persisted = sc.getPersistentRDDs
      prevIds.foreach(id => persisted.get(id).foreach(_.unpersist(false)))
      prevIds = (Checkpoints.rdds(a) ++ Checkpoints.rdds(h)).map(_.id)
    }
    nodes.join(a, Seq("node"), "left").join(h, Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("a"), lit(0L)).cast("double") / one, 6)
          .as("authority"),
        round(coalesce(col("h"), lit(0L)).cast("double") / one, 6).as("hub"))
  }
}
