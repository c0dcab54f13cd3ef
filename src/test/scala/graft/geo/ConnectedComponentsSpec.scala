package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.{GraftSession, SharedSpark}

/** DataFrame-native connected components (large-star/small-star) vs a
  * scalar union-find oracle, over graph shapes that stress different
  * convergence paths: long chains (high diameter), grids, random sparse
  * graphs, stars, duplicate/self-loop noise. */
class ConnectedComponentsSpec extends AnyFunSuite with SharedSpark {

  private def unionFind(n: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long](n.map(x => x -> x): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id labeling
    val label = scala.collection.mutable.Map[Long, Long]()
    n.sorted.foreach { x => val r = find(x); if (!label.contains(r)) label(r) = x }
    n.map(x => x -> label(find(x))).toMap
  }

  test("matches union-find on chains, grids, random graphs, noise") {
    import spark.implicits._
    val rnd = new Random(42)
    // 1. one 400-node chain (diameter 399 — kills O(diameter) algorithms)
    val chain = (0L until 399L).map(i => (i, i + 1))
    // 2. 10x10 grid offset at 1000
    val grid = (for { r <- 0 until 10; c <- 0 until 10 } yield {
      val id = 1000L + r * 10 + c
      Seq(if (c < 9) Some((id, id + 1)) else None,
          if (r < 9) Some((id, id + 10)) else None).flatten
    }).flatten
    // 3. random sparse graph at 2000 (150 nodes, 120 edges)
    val rand = (0 until 120).map { _ =>
      (2000L + rnd.nextInt(150), 2000L + rnd.nextInt(150))
    }
    // 4. star at 5000 with reversed orientation + dup + self-loop noise
    val star = (1L to 30L).map(i => (5000L + i, 5000L))
    val noise = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5000L, 5000L))

    val all = chain ++ grid ++ rand ++ star ++ noise
    // contract: self-loop-only nodes are absent from the output (callers
    // left-join + coalesce(cluster, node))
    val real = all.filter(e => e._1 != e._2)
    val nodes = real.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = unionFind(nodes, real)

    // both execution paths must agree with the oracle: the bounded
    // single-task finish (default threshold) and the large-star/
    // small-star loop (threshold 0 forces it)
    for (threshold <- Seq(1L << 22, 0L)) {
      val got = ConnectedComponents
        .label(spark, all.toDF("a", "b"), localThreshold = threshold)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(got.keySet == expected.keySet, s"threshold=$threshold")
      val bad = got.filter { case (n, c) => expected(n) != c }
      assert(bad.isEmpty, s"threshold=$threshold mislabeled: ${bad.take(5)}")
    }
  }

  test("randomized sweep: star-contraction fixed point equals union-find on 20 seeded graphs") {
    import spark.implicits._
    (1 to 20).foreach { seed =>
      val rnd = new Random(seed)
      val n = 20 + rnd.nextInt(120)
      val shape = seed % 4
      val edges: Seq[(Long, Long)] = shape match {
        case 0 => // sparse random: percolation regime, many components
          (0 until n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        case 1 => // path + random chords
          (0L until (n - 1).toLong).map(i => (i, i + 1)) ++
            (0 until n / 10).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        case 2 => // binary-tree-ish parent edges (reversed orientation)
          (1L until n.toLong).map(i => (i / 2, i))
        case 3 => // two cliques bridged by one edge
          val half = n / 2
          (for { i <- 0 until half; j <- i + 1 until half } yield (i.toLong, j.toLong)) ++
            (for { i <- half until n; j <- i + 1 until n } yield (i.toLong, j.toLong)) ++
            Seq((0L, half.toLong))
      }
      val real = edges.filter(e => e._1 != e._2)
      if (real.nonEmpty) {
        val nodes = real.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = unionFind(nodes, real)
        // threshold 0 forces the distributed loop — the path with the
        // subtle convergence argument
        val got = ConnectedComponents
          .label(spark, edges.toDF("a", "b"), localThreshold = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"seed=$seed shape=$shape n=$n")
      }
    }
  }

  test("star path: no persisted RDD outlives label once its result is counted") {
    // the suite's earlier results are still persisted: drop them first
    GraftSession.reset(spark)
    import spark.implicits._
    val sc = spark.sparkContext
    // a 200-node chain: several star rounds after the stage-1 forest
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val out = ConnectedComponents.label(spark, edges, localThreshold = 0L)
    assert(out.count() == 200)
    // only the checkpoints the result itself reads may remain
    val own = graft.util.Checkpoints.rdds(out).map(_.id).toSet
    val left = sc.getPersistentRDDs.keySet.toSet
    assert(left.subsetOf(own), s"leaked RDDs ${left -- own}")
    graft.util.Checkpoints.free(out)
    assert(sc.getPersistentRDDs.isEmpty)
  }
}
