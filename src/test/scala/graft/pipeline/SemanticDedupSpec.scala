package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Semantic-dedup (SemDeDup) contracts on the sf0.001 embeddings:
  * planted near-identical twins resolve into two-member clusters with
  * exactly one kept representative, and unrelated random vectors survive
  * untouched. */
class SemanticDedupSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 8

  private val sf = "/root/testdata/sf0.001"

  test("planted twins cluster pairwise; exactly one representative kept per cluster") {
    val e = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val twins = e.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val out = Similarity.semanticDedup(e.unionByName(twins),
        "vec_id", "embedding", nlist = 16, minSim = 0.99)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    val n = out.length
    assert(n > 0 && n % 2 == 0)
    val cellOf = out.map(r => r._1 -> r._2).toMap
    val clusterOf = out.map(r => r._1 -> r._3).toMap
    // SemDeDup only compares within a cell: every same-cell twin pair
    // MUST cluster together (cosine of a 0.01-nudged copy is ~1); a
    // twin quantized into a different cell is the algorithm's accepted
    // miss, not a defect
    val sameCellTwins = out.collect {
      case (vid, cell, _, _) if vid < 1000000L &&
        cellOf.get(vid + 1000000L).contains(cell) => vid
    }
    assert(sameCellTwins.nonEmpty, "no same-cell twin pairs planted")
    sameCellTwins.foreach { vid =>
      assert(clusterOf(vid) == clusterOf(vid + 1000000L),
        s"same-cell twin pair $vid not clustered")
    }
    // keep is exactly "I am my cluster's minimum id", and the canonical
    // member really is the minimum of its component
    out.foreach { case (vid, _, cid, keep) =>
      assert(cid <= vid)
      assert(keep === (vid == cid), s"keep flag wrong for $vid")
    }
    // dedup actually removed something
    assert(out.count(_._4) < n)
  }

  test("an isolated vector keeps itself as its own cluster") {
    import spark.implicits._
    // orthogonal unit vectors: no pair reaches cosine 0.99
    val vecs = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(8)(j => if (j == i) 1.0f else 0.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding",
        nlist = 4, minSim = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 8)
    assert(out.forall { case (vid, cid, keep) => cid == vid && keep })
  }
}
