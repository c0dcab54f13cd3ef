package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Clustering.kmeans against a scalar Lloyd reference with the same
  * fixed-point mean arithmetic, plus partitioning-invariance (the whole
  * point of the fixed-point sums) and blob-recovery sanity. */
class ClusteringSpec extends AnyFunSuite with SharedSpark {

  private def scalarKmeans(vecs: Seq[(Long, Array[Float])], k: Int,
                           iters: Int): Map[Long, Int] = {
    def argmin(cents: Array[Array[Double]], v: Array[Float]): Int = {
      var best = 0; var bd = Double.MaxValue
      for (c <- cents.indices) {
        var d = 0.0
        for (i <- cents(c).indices) { val t = v(i).toDouble - cents(c)(i); d += t * t }
        if (d < bd) { bd = d; best = c }
      }
      best
    }
    val sorted = vecs.sortBy(_._1)
    var cents = sorted.take(k).map(_._2.map(_.toDouble)).toArray
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Long](cents(0).length))
      val counts = new Array[Long](k)
      sorted.foreach { case (_, v) =>
        val c = argmin(cents, v)
        counts(c) += 1
        for (i <- v.indices) sums(c)(i) += math.floor(v(i).toDouble * 1048576 + 0.5).toLong
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(s => (s.toDouble / 1048576L) / counts(c).toDouble)
      }.toArray
    }
    sorted.map { case (id, v) => id -> argmin(cents, v) }.toMap
  }

  test("kmeans matches the scalar reference and is partitioning-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val dims = 8
    val vecs = (1L to 300L).map(id =>
      (id, Array.fill(dims)((rnd.nextDouble() * 4 - 2).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val want = scalarKmeans(vecs, k = 5, iters = 3)

    def run(d: org.apache.spark.sql.DataFrame) =
      Clustering.kmeans(d, "vec_id", "embedding", k = 5, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    val got = run(df)
    assert(got == want)
    // fixed-point sums: identical result under a hostile repartitioning
    assert(run(df.repartition(17)) == want)
  }

  test("kmeans recovers well-separated blobs") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val centersTruth = Seq(Array(10f, 0f), Array(-10f, 0f), Array(0f, 10f))
    val vecs = (0 until 300).map { i =>
      val b = i % 3
      (i.toLong, centersTruth(b).map(c => c + (rnd.nextGaussian() * 0.5).toFloat))
    }
    val out = Clustering.kmeans(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 3, iters = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // every blob maps to exactly one cluster and clusters don't mix
    val byBlob = out.groupBy(_._1 % 3).map { case (b, rows) => b -> rows.map(_._2).distinct }
    assert(byBlob.values.forall(_.size == 1), byBlob.toString)
    assert(byBlob.values.flatten.toSet.size == 3)
  }

}
