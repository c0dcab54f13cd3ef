package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Content-defined chunking: scalar parity of the boundary rule, the
  * insertion-robustness property that motivates CDC over fixed windows,
  * and the degenerate short-text case. */
class CdcChunksSpec extends AnyFunSuite with SharedSpark {

  private val M = 1000000007L

  /** Scalar replica of the boundary rule. */
  private def scalarCuts(t: String, k: Int, stride: Int): Seq[Int] = {
    val cps = t.codePoints().toArray
    (0 to cps.length - k).filter { p =>
      var h = 0L
      (0 until k).foreach(j => h = (h * 31 + cps(p + j)) % M)
      h % stride == 0
    }.filter(_ > 0)
  }

  private def scalarChunks(t: String, k: Int, stride: Int): Seq[(Int, Int)] = {
    val bounds = 0 +: scalarCuts(t, k, stride) :+ t.codePoints().count().toInt
    bounds.zip(bounds.tail).map { case (s, e) => (s, e - s) }
  }

  test("chunk bounds match the scalar boundary rule; hashes cover the text exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val texts = (1L to 20L).map(i =>
      (i, (1 to 60).map(_ => words(rnd.nextInt(words.size))).mkString(" ")))
    val got = TextAnalysis.cdcChunks(texts.toDF("doc_id", "text"),
        "doc_id", "text", k = 8, stride = 16)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(c => (c._3, c._4)).toSeq).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == scalarChunks(t, 8, 16), s"doc $id")
      // chunks tile the text: contiguous, non-overlapping, full coverage
      val chunks = got(id)
      assert(chunks.head._1 == 0 && chunks.map(_._2).sum == t.length)
      chunks.zip(chunks.tail).foreach { case ((s1, l1), (s2, _)) =>
        assert(s1 + l1 == s2)
      }
    }
  }

  test("insertion robustness: a front insertion re-aligns every later chunk") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val words = Seq("red", "green", "blue", "cyan", "teal", "plum", "gold")
    val base = (1 to 200).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    val shifted = "INSERTED JUNK PREFIX " + base
    val df = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val hashes = TextAnalysis.cdcChunks(df, "doc_id", "text", k = 8, stride = 16)
      .collect().map(r => r.getLong(0) -> r.getString(4))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val shared = hashes(1L).intersect(hashes(2L)).size
    // all but the first boundary's worth of chunks re-align — CDC's
    // defining property; a fixed-width chunker shares ~zero
    assert(shared >= hashes(1L).size - 2,
      s"shared $shared of ${hashes(1L).size} chunks")
    assert(hashes(1L).size >= 10, "fixture must produce real chunk counts")
    // the fixed-window chunker really does lose alignment on the same pair
    val fixedShared = {
      val fx = TextAnalysis.chunkWithOverlap(df, "doc_id", "text",
          window = 8, stride = 8)
        .collect().map(r => r.getLong(0) -> r.getString(4))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      fx(1L).intersect(fx(2L)).size
    }
    assert(fixedShared <= 1, s"fixed windows unexpectedly aligned: $fixedShared")
  }

  test("short text below k forms a single whole-text chunk") {
    import spark.implicits._
    val got = TextAnalysis.cdcChunks(Seq((1L, "tiny")).toDF("doc_id", "text"),
        "doc_id", "text", k = 16, stride = 32)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq == Seq((0, 0, 4)))
  }
}
