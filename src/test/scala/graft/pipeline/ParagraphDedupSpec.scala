package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Dedup.paragraphDedup against a scalar reimplementation: first
  * occurrence (by doc_id, position) survives, later exact repeats drop
  * regardless of position, documents rebuild in paragraph order, and a
  * fully-deduplicated document hashes as the empty string. */
class ParagraphDedupSpec extends AnyFunSuite with SharedSpark {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def scalar(docs: Seq[(Long, String)], k: Int): Map[Long, (Long, Long, String)] = {
    val paras = docs.sortBy(_._1).flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).grouped(k).zipWithIndex
        .map { case (g, i) => (id, i, g.mkString(" ")) }
    }
    val seen = scala.collection.mutable.HashSet[String]()
    val kept = paras.filter { case (_, _, p) => seen.add(p) }
    docs.filter(_._2.split(" ").exists(_.nonEmpty)).map { case (id, _) =>
      val total = paras.count(_._1 == id).toLong
      val mine = kept.filter(_._1 == id).sortBy(_._2).map(_._3)
      id -> ((total, mine.size.toLong, md5hex(mine.mkString(" "))))
    }.toMap
  }

  test("matches the scalar reference, including a fully-deduplicated doc") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val vocab = Vector("a", "b", "c", "d", "e")
    def para() = Seq.fill(4)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val shared = para()
    val docs = Seq(
      (1L, s"$shared ${para()} $shared"),          // self-repeat inside one doc
      (2L, shared),                                 // fully deduped by doc 1
      (3L, s"${para()} $shared ${para()}"),
      (4L, "")                                      // empty: excluded entirely
    ) ++ (5L to 40L).map(id =>
      (id, Seq.fill(1 + rnd.nextInt(4))(if (rnd.nextBoolean()) shared else para())
        .mkString(" ")))

    val got = Dedup.paragraphDedup(docs.toDF("doc_id", "text"), "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val want = scalar(docs, 4)
    assert(got == want)
    // the contract cases explicitly
    assert(got(2L)._2 == 0L && got(2L)._3 == md5hex(""), "doc 2 fully deduped")
    assert(!got.contains(4L), "empty doc excluded")
    assert(got(1L)._1 == 3L && got(1L)._2 == 2L, "self-repeat dropped once")
  }
}
