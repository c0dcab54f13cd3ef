package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Corpus-shaping operators: deterministic stratified rebalance and
  * token-budget sequence packing, checked against scalar reimplementations
  * and for their scale-critical plan shapes (broadcast joins, no corpus
  * shuffle for sampling, shard-partitioned windows for packing). */
class SamplingSpec extends AnyFunSuite with SharedSpark {

  test("stratifiedBalance: deterministic, balanced to min stratum, broadcast plan") {
    import spark.implicits._
    // skew: 1000 en, 300 de, 50 fr → every stratum samples toward 50
    val docs = ((1L to 1000L).map(i => (i, "en")) ++
      (2001L to 2300L).map(i => (i, "de")) ++
      (3001L to 3050L).map(i => (i, "fr"))).toDF("doc_id", "lang")
    val bucket = pmod(col("doc_id") * lit(2654435761L), lit(10000L))
    val out = Sampling.stratifiedBalance(docs, "lang", bucket)
      .select("doc_id", "lang").collect()

    // scalar oracle: keep iff bucket * n < target * 10000
    val counts = Map("en" -> 1000L, "de" -> 300L, "fr" -> 50L)
    val target = 50L
    def keep(id: Long, lang: String): Boolean =
      math.floorMod(id * 2654435761L, 10000L) * counts(lang) < target * 10000L
    val expected = ((1L to 1000L).map((_, "en")) ++
      (2001L to 2300L).map((_, "de")) ++
      (3001L to 3050L).map((_, "fr"))).filter(x => keep(x._1, x._2)).toSet
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSet == expected)

    // each stratum lands within ±40% of the target (hash granularity)
    val byLang = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    byLang.foreach { case (l, n) =>
      assert(n >= target * 0.6 && n <= target * 1.4, s"$l -> $n vs target $target")
    }

    // scale shape: the stratum-size side must broadcast (corpus never
    // shuffles for the filter)
    val plan = Sampling.stratifiedBalance(docs, "lang", bucket)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))

    // explicit mixture rates: exact threshold membership; absent strata
    // drop; rates clamp to [0,1]
    val rated = Sampling.sampleByRates(docs, "lang", bucket,
        Map("en" -> 0.1, "de" -> 1.5, "fr" -> -1.0))
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val expectedRated = ((1L to 1000L).map((_, "en")) ++
      (2001L to 2300L).map((_, "de")))
      .filter { case (id, lang) =>
        val th = if (lang == "en") 1000L else 10000L // floor(rate*10000)
        math.floorMod(id * 2654435761L, 10000L) < th
      }.toSet
    assert(rated == expectedRated)
  }

  test("temperatureBalance: √(min/c) keep rates, scalar-exact, broadcast plan") {
    import spark.implicits._
    // 1600 en, 400 de, 100 fr → rates √(100/1600)=0.25, √(100/400)=0.5, 1
    val docs = ((1L to 1600L).map(i => (i, "en")) ++
      (2001L to 2400L).map(i => (i, "de")) ++
      (3001L to 3100L).map(i => (i, "fr"))).toDF("doc_id", "lang")
    val bucket = pmod(col("doc_id") * lit(2654435761L), lit(10000L))
    val out = Sampling.temperatureBalance(docs, "lang", bucket)
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    // scalar oracle: keep iff bucket < floor(√(min/c)·10000)
    val counts = Map("en" -> 1600L, "de" -> 400L, "fr" -> 100L)
    def keep(id: Long, lang: String): Boolean =
      math.floorMod(id * 2654435761L, 10000L) <
        math.floor(math.sqrt(100.0 / counts(lang)) * 10000).toLong
    val expected = ((1L to 1600L).map((_, "en")) ++
      (2001L to 2400L).map((_, "de")) ++
      (3001L to 3100L).map((_, "fr"))).filter(x => keep(x._1, x._2)).toSet
    assert(out == expected)

    // temperature shape: en keeps ~400 of 1600 (rate .25), de ~200 of
    // 400 (rate .5), fr everything — flattened, NOT equalized
    val byLang = out.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLang("fr") == 100, s"fr ${byLang("fr")}")
    assert(byLang("en") > byLang("de"), s"flattening must preserve order: $byLang")
    assert(byLang("en") >= 320 && byLang("en") <= 480, s"en ${byLang("en")}")
    assert(byLang("de") >= 160 && byLang("de") <= 240, s"de ${byLang("de")}")

    // scale shape: thresholds broadcast; the corpus never shuffles
    val plan = Sampling.temperatureBalance(docs, "lang", bucket)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("packSequences: matches scalar greedy cumsum; chunk ids globally unique") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1L to 500L).map { i =>
      (i, s"s${i % 3}", 1 + rnd.nextInt(900)) // shards s0,s1,s2
    }.toDF("doc_id", "source", "toks")
    val budget = 2048
    val out = Sampling.packSequences(docs, "source", "doc_id",
        col("toks").cast("long"), budget)
      .select("doc_id", "source", "n_tokens", "chunk_id", "offset")
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

    // scalar: per shard in doc_id order, cumsum-before; chunk bases by
    // shard name order
    val byShard = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong))
      .groupBy(_._2)
    val localChunks = scala.collection.mutable.Map[Long, (String, Long, Long, Long)]()
    val nChunks = byShard.map { case (shard, xs) =>
      var run = 0L
      xs.sortBy(_._1).foreach { case (id, _, t) =>
        localChunks(id) = (shard, t, run / budget, run % budget)
        run += t
      }
      shard -> (localChunks.collect { case (_, (s, _, lc, _)) if s == shard => lc }.max + 1)
    }
    val shards = nChunks.keys.toSeq.sorted
    val bases = shards.zip(shards.scanLeft(0L)((acc, sh) => acc + nChunks(sh)).init).toMap
    val expected = localChunks.map { case (id, (sh, t, lc, off)) =>
      id -> (sh, t, lc + bases(sh), off)
    }.toMap
    assert(out == expected)

    // chunk ids of different shards never collide
    val chunksPerShard = out.values.groupBy(_._1).view
      .mapValues(_.map(_._3).toSet).toMap
    chunksPerShard.toSeq.combinations(2).foreach { case Seq((s1, c1), (s2, c2)) =>
      assert(c1.intersect(c2).isEmpty, s"$s1/$s2 chunk id collision")
    }
  }

  test("packSequences on BPE counts: real tokenizer totals drive the chunk math") {
    import spark.implicits._
    // two shards; BPE counts differ from whitespace counts (repeated
    // words compress), so packing on them must produce different
    // offsets than whitespace packing would
    val docs = Seq(
      (1L, "a1", "newest newest newest newest"),
      (2L, "a1", "widest lowest"),
      (3L, "b2", "newest widest newest widest newest"),
      (4L, "b2", "low lowest"))
      .toDF("doc_id", "source", "text")
    val nt = Bpe.tokenizeDocs(docs, "doc_id", "text", numMerges = 6)
      .select(col("doc_id"), col("n_tokens").cast("long").as("bpe"))
    val budget = 8
    val out = Sampling.packSequences(
        docs.select("doc_id", "source").join(nt, "doc_id"),
        "source", "doc_id", col("bpe"), budget)
      .select("doc_id", "source", "n_tokens", "chunk_id", "offset")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // scalar: BPE token counts per doc, greedy cumsum per shard, shard
    // bases in source order
    val counts = nt.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shards = Seq("a1" -> Seq(1L, 2L), "b2" -> Seq(3L, 4L))
    var base = 0L
    val expect = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    shards.foreach { case (_, ids) =>
      var run = 0L
      ids.foreach { id =>
        expect(id) = (counts(id), base + run / budget, run % budget)
        run += counts(id)
      }
      run = 0L
      var maxChunk = 0L
      ids.foreach { id => maxChunk = math.max(maxChunk, run / budget); run += counts(id) }
      base += maxChunk + 1
    }
    assert(out == expect.toMap)
    // and the counts really are BPE counts, not whitespace counts
    assert(counts(1L) < 4 * "newest".length, "training should compress")
    assert(counts.values.sum !=
      docs.collect().map(_.getString(2).split(" ").count(_.nonEmpty)).sum,
      "fixture must separate BPE counts from whitespace counts")
  }

  test("tokenBudgetMix: equals the naive one-window form; windows never partition by domain alone") {
    import spark.implicits._
    // hot domain: 'en' holds 10x the rows of the others
    val rnd = new scala.util.Random(23)
    val docs = ((1L to 500L).map(i => (i, "en", 10L + rnd.nextInt(40))) ++
      (1001L to 1050L).map(i => (i, "de", 10L + rnd.nextInt(40))) ++
      (2001L to 2040L).map(i => (i, "fr", 10L + rnd.nextInt(40)))).toDF(
      "doc_id", "lang", "nt")
    val budgets = Map("en" -> 3000L, "de" -> 400L)
    val mixed = Sampling.tokenBudgetMix(docs, "doc_id", "lang",
      col("nt"), budgets, defaultBudget = 300L, buckets = 8)
    val got = mixed.collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap

    // naive reference: one running sum per domain in (pri, id) order
    val m = 1000000007L
    def pri(id: Long) = (id % m * 2654435761L + 987654321L) % m
    val rows = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = rows.groupBy(_._2).flatMap { case (lang, rs) =>
      val sorted = rs.sortBy(t => (pri(t._1), t._1))
      val cums = sorted.scanLeft(0L)(_ + _._3)
      sorted.zip(cums).map { case ((id, _, _), before) =>
        id -> (before, before < budgets.getOrElse(lang, 300L))
      }.toSeq
    }
    assert(got == want)

    // at most one overshooting doc per domain: kept tokens minus the
    // last kept doc stay under budget
    val keptTok = rows.filter(t => got(t._1)._2).groupBy(_._2)
      .map { case (l, rs) => l -> rs.map(_._3).sum }
    keptTok.foreach { case (l, tot) =>
      val maxDoc = rows.filter(_._2 == l).map(_._3).max
      assert(tot < budgets.getOrElse(l, 300L) + maxDoc, s"$l overshoots")
    }

    // scale shape: every corpus-sized Window partitions by (domain,
    // bucket) — a window keyed on the domain alone would funnel the hot
    // domain through one task
    val plan = mixed.queryExecution.executedPlan.toString
    val corpusWindows = plan.split("\n").filter(l =>
      l.contains("windowspecdefinition(lang#") && l.contains("cum_in"))
    assert(corpusWindows.nonEmpty && corpusWindows.forall(_.contains("bkt#")),
      s"corpus window partitioned by domain alone:\n$plan")
  }

  test("unimaxBudgets: equals the sequential waterfilling loop; integer-exact") {
    import spark.implicits._
    // per-lang token masses with a fat head; docs of 10 tokens each
    val masses = Map("en" -> 1200L, "zh" -> 400L, "de" -> 350L,
      "fr" -> 380L, "es" -> 90L)
    val docs = masses.toSeq.flatMap { case (l, t) =>
      (1L to t / 10).map(i => (l, 10L))
    }.toDF("lang", "nt")

    // the sequential waterfilling loop with the EXACT rational share
    // condition (t ≤ U/k via cross-multiplication — the operator's
    // semantics; a floor'd per-step share would leak remainder tokens
    // to later strata): once one stratum is uncapped, all larger ones
    // are too, and they split the remainder by integer division
    def loopAlloc(budget: Long, e: Int): Map[String, (Long, Boolean)] = {
      var u = budget
      var k = masses.size.toLong
      val out = scala.collection.mutable.Map[String, (Long, Boolean)]()
      var capping = true
      masses.toSeq.sortBy(t => (t._2 * e, t._1)).foreach { case (l, c) =>
        if (capping && c * e * k <= u) { out(l) = (c * e, true); u -= c * e; k -= 1 }
        else { capping = false; out(l) = (u / k, false) }
      }
      out.toMap
    }
    def got(budget: Long, e: Int): Map[String, (Long, Boolean)] =
      Sampling.unimaxBudgets(docs, "lang", col("nt"), budget, e)
        .collect().map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(3)))
        .toMap

    // mixed capped/uncapped, all-capped (huge budget), none-capped
    // (tiny budget: pure uniform split), and a 2-epoch cap
    for ((b, e) <- Seq((1500L, 1), (99999L, 1), (300L, 1), (2800L, 2))) {
      val want = loopAlloc(b, e)
      val g = got(b, e)
      assert(g == want, s"budget=$b epochs=$e: $g vs $want")
      assert(g.values.map(_._1).sum <= b, s"over-allocated at budget=$b")
    }

    // the closed form's defining shape at budget 1500: es (90·5+0) and
    // de (350·4+90) fit their epoch cap, fr breaks the chain
    // (380·3+440 > 1500), so fr/zh/en split the remainder uniformly —
    // (1500−440) div 3 = 353 each
    val g = got(1500L, 1)
    assert(g("es") == ((90L, true)) && g("de") == ((350L, true)))
    Seq("fr", "zh", "en").foreach(l => assert(g(l) == ((353L, false)), s"$l: ${g(l)}"))
  }

  test("weightedSample: matches scalar A-ES; weight-proportional; rank-limit pushed down") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // two strata; within each, ids 1-200 light (w=10), 201-240 heavy (w=500)
    val rows = for {
      s <- Seq("a", "b"); i <- 1L to 240L
      id = (if (s == "a") 10000L else 20000L) + i
    } yield (id, s, if (i <= 200) 10L + rnd.nextInt(5) else 500L + rnd.nextInt(50))
    val df = rows.toDF("doc_id", "lang", "w")
    val got = Sampling.weightedSample(df, "lang", "doc_id", col("w"), k = 20)

    // scalar A-ES with the same portable hash + rounding convention
    val m = 1000000007L
    def pri(id: Long, w: Long): Double = {
      val h = (id % m) * 2654435761L % m
      val x = -math.log((h + 1).toDouble / m.toDouble) / w
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
      rs.map(t => (t._1, t._2, t._3, pri(t._1, t._3)))
        .sortBy(t => (t._4, t._1)).take(20)
    }.toSet
    val gotSet = got.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(gotSet == want)

    // heavy rows are 1/6 of each stratum but ~50x the weight: they must
    // dominate the sample (weight-proportionality, not uniformity)
    val heavy = gotSet.count(_._3 >= 500)
    assert(heavy >= 30, s"heavy rows under-sampled: $heavy/40")

    // SPARK-37099: a Partial WindowGroupLimit below the exchange
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      plan.take(2000))

    // zero/negative weights are excluded, never sampled
    val withZero = (rows :+ ((99999L, "a", 0L)) :+ ((99998L, "b", -5L)))
      .toDF("doc_id", "lang", "w")
    val ids = Sampling.weightedSample(withZero, "lang", "doc_id", col("w"), 500)
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(99999L) && !ids.contains(99998L))
  }
}
