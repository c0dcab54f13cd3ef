package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** p77 reads the effective-diameter cut off KMV ball ESTIMATES; this pins
  * the statistic that actually matters — which radii reach ≥ 90% of the
  * final-round reach — against an EXACT scalar BFS neighborhood function
  * over the same trade graph at sf0.001. The estimates themselves may
  * drift (k = 16 sketches cap early), but the headline radius cut must
  * not: that is the Boldi–Vigna use of the sketch. */
class EffectiveDiameterSpec extends AnyFunSuite with SharedSpark {

  test("p77's >=90% radius flags equal the exact BFS neighborhood function at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val got = QueryCatalog.queries("p77_effective_diameter")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getBoolean(3)).toMap

    // exact side: same bidirectional customer↔supplier construction as
    // the catalog's tradeEdges, balls grown by scalar BFS
    val e0 = Tables.orders(spark, sf)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"),
          (col("l_suppkey") * 2 + 1).as("dst")),
        col("o_orderkey") === col("l_orderkey"))
      .select("src", "dst").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    e0.foreach { case (s, d) =>
      adj(s) = adj(s) + d; adj(d) = adj(d) + s
    }
    val nodes = adj.keySet.toSeq
    var balls = nodes.map(v => v -> Set(v)).toMap
    val exactN = Seq.newBuilder[Long]
    exactN += nodes.size.toLong
    for (_ <- 1 to 3) {
      balls = balls.map { case (v, b) =>
        v -> b.foldLeft(b)((acc, u) => acc ++ adj(u))
      }
      exactN += balls.values.map(_.size.toLong).sum
    }
    val n = exactN.result()
    val exactFlags = n.zipWithIndex
      .map { case (nr, r) => r -> (nr.toDouble / n.last >= 0.9) }.toMap

    assert(got == exactFlags,
      s"estimate-based cut $got != exact cut $exactFlags (exact N(r)=$n)")
    // and the fixture is non-degenerate: the cut flips strictly inside
    // the radius range, so the assertion tests a real boundary
    assert(!exactFlags(0) && exactFlags(3))
    assert((0 to 2).exists(r => !exactFlags(r) && exactFlags(r + 1)))
  }
}
