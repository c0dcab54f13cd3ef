package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Corpus-shaping additions: context-window chunking, the deterministic
  * training-order shuffle, and int8 scalar quantization — semantics
  * against scalar reimplementations plus the scale-critical plan shapes
  * (chunking must not shuffle; quantization training must be a single
  * aggregate with no explode). */
class CorpusShapingSpec extends AnyFunSuite with SharedSpark {

  test("chunkWithOverlap: coverage, overlap, edges, and a shuffle-free plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 toks → 4 chunks
      (2L, (1 to 32).map(i => s"a$i").mkString(" ")),  // exactly one window
      (3L, "solo"),                                    // 1 token
      (4L, "   "),                                     // empty after split
      (5L, (1 to 33).map(i => s"b$i").mkString(" "))   // window + 1 → 2 chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkWithOverlap(docs, "doc_id", "text",
      window = 32, stride = 24).collect()

    val byDoc = out.groupBy(_.getLong(0))
    // 100 tokens: chunks start at 0,24,48,72 — ceil((100-32)/24)+1 = 4
    assert(byDoc(1L).map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).sorted
      .toSeq == Seq((0, 0, 32), (1, 24, 32), (2, 48, 32), (3, 72, 28)))
    // last chunk reaches the end: start 72 + 28 = 100
    assert(byDoc(2L).length == 1 && byDoc(2L).head.getInt(3) == 32)
    assert(byDoc(3L).length == 1 && byDoc(3L).head.getInt(3) == 1)
    assert(!byDoc.contains(4L)) // empty doc → no chunks
    assert(byDoc(5L).map(r => (r.getInt(2), r.getInt(3))).sorted.toSeq
      == Seq((0, 32), (24, 9)))

    // chunk hash is the hash of exactly those tokens
    val h = byDoc(5L).find(_.getInt(1) == 1).get.getString(4)
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest((25 to 33).map(i => s"b$i").mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(h == expect)

    // scale shape: map-only — no Exchange anywhere in the plan
    val plan = TextAnalysis.chunkWithOverlap(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("deterministicShuffle: a reproducible permutation with dense per-shard positions") {
    import spark.implicits._
    val ids = (1L to 500L).toDF("doc_id")
    val out = Sampling.deterministicShuffle(ids, "doc_id", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    // every row appears once; (shard, pos) is a bijection
    assert(out.length == 500)
    assert(out.map(t => (t._2, t._3)).distinct.length == 500)
    // positions are dense 0..n-1 within each shard
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
    // shard assignment matches the scalar hash; order within shard
    // matches the scalar second hash
    def scalarShard(id: Long, n: Long): Long =
      math.floorMod(math.floorMod(id, 1000000007L) * 2654435761L % 1000000007L, n)
    out.foreach { case (id, shard, _) =>
      assert(shard == scalarShard(id, 8L).toInt)
    }
    val expected = (1L to 500L).groupBy(id => scalarShard(id, 8L))
      .view.mapValues(_.sortBy(id =>
        (math.floorMod(id * 1540483477L + 12345701L, 1000000007L), id))
        .zipWithIndex.toMap).toMap
    out.foreach { case (id, shard, pos) =>
      assert(expected(shard.toLong)(id).toLong == pos, s"doc $id")
    }

    // reproducible under a different input partitioning
    val again = Sampling.deterministicShuffle(ids.repartition(13), "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(again.toSeq == out.sorted.toSeq)

    // total for any 64-bit id under the default ANSI mode: ids past
    // the bare-multiply overflow point (~3.5e9) must not crash, and
    // the shard must match the folded scalar hash
    val big = Seq(4000000000L, Long.MaxValue - 1, 7000000000000000000L)
      .toDF("doc_id")
    Sampling.deterministicShuffle(big, "doc_id", 8).collect().foreach { r =>
      assert(r.getInt(1) == scalarShard(r.getLong(0), 8L).toInt)
    }

    // low-bit degeneracy regression: ids structured mod 8 (all ≡ 0)
    // must NOT collapse into one shard under a power-of-two nShards —
    // `(x * odd) mod 8` is a permutation of `x mod 8`, so without the
    // second mod-1e9+7 fold every stride-8 id would land on shard 0
    val strided = (1L to 256L).map(_ * 8L).toDF("doc_id")
    val shards = Sampling.deterministicShuffle(strided, "doc_id", 8)
      .select("shard").collect().map(_.getInt(0))
    assert(shards.distinct.length == 8, s"only shards ${shards.distinct.sorted.mkString(",")}")
    // and no shard hoards the stride: max occupancy well below n
    val occ = shards.groupBy(identity).view.mapValues(_.length)
    assert(occ.values.max < 96, occ.toMap.toString)
  }

  test("topKPerGroup: exactly the naive window's output under heavy group skew") {
    import spark.implicits._
    // one hot group with 5000 rows, several small ones; scores collide
    // often so the tie-break carries weight
    val rows = (1L to 5000L).map(i => (i, "hot", (i % 97).toDouble)) ++
      (6001L to 6020L).map(i => (i, "warm", (i % 7).toDouble)) ++
      Seq((7001L, "cold", 1.0))
    val df = rows.toDF("doc_id", "grp", "score")

    val out = Sampling.topKPerGroup(df, "grp", col("score"), col("doc_id"), k = 3)
      .select("doc_id", "grp", "score", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3))).sorted

    import org.apache.spark.sql.expressions.Window
    val naive = df.withColumn("rank", row_number().over(
        Window.partitionBy("grp").orderBy(col("score").desc, col("doc_id"))))
      .where(col("rank") <= 3)
      .select("doc_id", "grp", "score", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3))).sorted

    assert(out.toSeq == naive.toSeq)
    // groups smaller than k keep all their rows
    assert(out.count(_._2 == "cold") == 1)

    // the skew guarantee: rank-limit pushdown must plan a PARTIAL
    // WindowGroupLimit below the exchange, so a hot group forwards at
    // most k rows per input partition instead of all its rows
    val plan = Sampling.topKPerGroup(df, "grp", col("score"), col("doc_id"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      plan.take(2000))
  }

  test("quantizeInt8: codes in range, error bounded by half a step, single-agg training plan") {
    import spark.implicits._
    val dims = 8
    val vecs = (1 to 200).map { v =>
      (v.toLong, Array.tabulate(dims)(i =>
        (math.sin(v * 31 + i * 7) * (i + 1)).toFloat))
    }.toDF("vec_id", "embedding")

    val (lo, hi) = Quantize.trainMinMax(vecs, "embedding", dims)
    (0 until dims).foreach(i => assert(lo(i) < hi(i)))

    val out = Quantize.quantizeInt8(vecs, "vec_id", "embedding", dims).collect()
    assert(out.length == 200)
    // L∞ error ≤ half a quantization step of the widest dimension
    val maxStep = (0 until dims).map(i => (hi(i) - lo(i)) / 255).max
    out.foreach { r =>
      val err = r.getDouble(r.fieldIndex("max_err"))
      assert(err <= maxStep / 2 + 1e-9, s"vec ${r.getLong(0)}: $err")
    }
    // code_0 within [0, 255]
    out.foreach { r =>
      val c0 = r.getInt(r.fieldIndex("code_0"))
      assert(c0 >= 0 && c0 <= 255)
    }

    // degenerate dimension codes to 0 everywhere
    val degen = (1 to 10).map(v => (v.toLong, Array.fill(2)(1.0f)))
      .toDF("vec_id", "embedding")
    Quantize.quantizeInt8(degen, "vec_id", "embedding", 2).collect()
      .foreach(r => assert(r.getInt(r.fieldIndex("code_0")) == 0))

    // training plan: one HashAggregate pair over the scan — no explode,
    // no Generate node
    val trainPlan = {
      val aggs = (0 until dims).flatMap { i =>
        Seq(min(element_at(col("embedding"), i + 1).cast("double")),
          max(element_at(col("embedding"), i + 1).cast("double")))
      }
      vecs.agg(aggs.head, aggs.tail: _*).queryExecution.executedPlan.toString
    }
    assert(!trainPlan.contains("Generate"), trainPlan.take(2000))
    assert(trainPlan.contains("HashAggregate") || trainPlan.contains("SortAggregate"))
  }

  test("encodeColumn: sample-trained out-of-range values clamp to [0,255] under ANSI") {
    import spark.implicits._
    // the 100 TB shape: ranges trained on a SAMPLE, full corpus encoded —
    // out-of-range components are expected, and without the clamp the
    // tinyint cast in encodeColumnI8 throws under Spark 4's default ANSI
    val sample = (1 to 50).map(v =>
      (v.toLong, Array(v / 50.0f, 1.0f - v / 50.0f))).toDF("vec_id", "embedding")
    val (lo, hi) = Quantize.trainMinMax(sample, "embedding", 2)

    val corpus = Seq(
      (100L, Array(-5.0f, 0.5f)),  // below lo in dim 0
      (101L, Array(9.0f, 2.0f)),   // above hi in both dims
      (102L, Array(0.5f, 0.5f))    // in range
    ).toDF("vec_id", "embedding")

    val codes = corpus.select(col("vec_id"),
        Quantize.encodeColumn(col("embedding"), lo, hi).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(100L)(0) == 0 && codes(101L)(0) == 255 && codes(101L)(1) == 255)
    codes.values.foreach(_.foreach(c => assert(c >= 0 && c <= 255)))

    // the storage form must survive the ANSI tinyint cast on the same rows
    val i8 = corpus.select(
        Quantize.encodeColumnI8(col("embedding"), lo, hi).as("codes"))
      .collect().flatMap(_.getSeq[Byte](0))
    assert(i8.min == -128 && i8.max == 127)
  }

  test("trainMinMax: ragged vectors reach the width require, not an ANSI index error") {
    import spark.implicits._
    val ragged = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(1.0f, 2.0f)) // one dim short
    ).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Quantize.trainMinMax(ragged, "embedding", 3)
    }
    assert(e.getMessage.contains("width"), e.getMessage)
  }

  test("tokenEntropy: matches scalar Shannon entropy; extremes and empties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a a a a a"),            // constant → H = 0
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),    // uniform → H = ln 8
      (3L, "the cat sat on the mat the end"),
      (4L, "   "),                         // token-free → absent
      (5L, "x")                            // single token → H = 0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap

    def scalarH(text: String): (Long, Long, Double) = {
      val ws = text.split(" ").filter(_.nonEmpty)
      val cs = ws.groupBy(identity).map(_._2.length)
      val n = ws.length.toDouble
      val h = math.log(n) - cs.map(c => c * math.log(c)).sum / n
      (ws.length.toLong, cs.size.toLong,
        BigDecimal(h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(!got.contains(4L))
    Seq(1L, 2L, 3L, 5L).foreach { id =>
      val text = Seq("a a a a a a a a", "w1 w2 w3 w4 w5 w6 w7 w8",
        "the cat sat on the mat the end", "", "x")(id.toInt - 1)
      assert(got(id) == scalarH(text), s"doc $id")
    }
    assert(got(1L)._3 == 0.0 && got(5L)._3 == 0.0)
    assert(got(2L)._3 == BigDecimal(math.log(8.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // a doc's entropy is bounded by ln(n_distinct) (+ rounding slack)
    got.values.foreach { case (_, d, h) =>
      assert(h <= math.log(d.toDouble) + 5e-7)
    }
  }
}
