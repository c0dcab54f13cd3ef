package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer induction by hard-EM prune
  * (Kudo 2018, arXiv:1804.10959) — the OTHER production tokenizer family
  * next to BPE merges ([[Bpe]]): seed a large substring vocabulary, then
  * alternate (E) Viterbi-segment the corpus under current token scores
  * and (M) re-score from segmentation counts, pruning multi-character
  * tokens the optimal segmentations stopped using. Single code points
  * are never pruned (coverage, the SentencePiece discipline).
  *
  * Determinism contract (what makes the DuckDB oracle bit-exact):
  *   - scores are INTEGER centi-nats: nll = round(100·ln(total/freq)).
  *     Integer DP costs compare exactly — no float-sum ulp divergence
  *     between engines can flip a Viterbi comparison. (The one double op,
  *     ln of a ratio of integers, is rounded to 0.01 nat; a flip would
  *     need libm implementations ~1e-13 apart exactly at a rounding
  *     boundary.)
  *   - Viterbi ties break by (cost, token count, md5 of the ␟-joined
  *     token path) — md5 hex is ASCII, so Java string order and UTF-8
  *     byte order agree; comparing raw paths would diverge above the BMP
  *     (UTF-16 code-unit vs UTF-8 byte order).
  *   - all slicing is in CODE POINTS (Spark length/substr, DuckDB
  *     length/substr, and the UDF's codePoints all agree).
  *   - training words longer than `maxWordLen` code points are excluded
  *     (SentencePiece's max-sentencepiece-length discipline) in both
  *     engines.
  *
  * Scale shape (100 TB): the corpus is scanned ONCE into the word
  * histogram ([[Bpe.wordHistogram]] — the same reduction BPE trains on);
  * every E-step is a map-only Viterbi UDF over the DISTINCT-WORD relation
  * plus one map-side-combinable count aggregate; the vocabulary (≤
  * distinct code points + `maxVocab` substrings) and its per-iteration
  * counts are bounded driver artifacts like the IVF centroids and the BPE
  * merge list — `emIters` rounds total, never a per-merge loop.
  */
object Unigram {

  /** Separator for the tie-break path string — [[Bpe.Sep]], guaranteed
    * absent from any token by [[Bpe.wordHistogram]]'s filter. */
  private val Sep = Bpe.Sep

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def cpCount(s: String): Int = s.codePointCount(0, s.length)

  /** All code-point substrings of length 1..maxTokLen — the seed
    * candidate stream (one row per occurrence, overlaps included). */
  private def cpSubstrings(word: String, maxTokLen: Int): Seq[String] = {
    val cps = word.codePoints().toArray
    val out = Seq.newBuilder[String]
    var s = 0
    while (s < cps.length) {
      var l = 1
      while (l <= maxTokLen && s + l <= cps.length) {
        out += new String(cps, s, l)
        l += 1
      }
      s += 1
    }
    out.result()
  }

  /** Viterbi segmentation of one word under integer token costs; ties by
    * (cost, token count, md5 of the joined path) — see the determinism
    * contract above. Every single code point of a training word is in
    * the vocabulary, so a path always exists. */
  private[pipeline] def viterbi(word: String, nll: collection.Map[String, Int],
                                maxTokLen: Int): Seq[String] = {
    val cps = word.codePoints().toArray
    val L = cps.length
    // dp(k): (cost, nTokens, pathKey, path) — best segmentation of the
    // first k code points
    val dp = new Array[(Long, Int, String, Vector[String])](L + 1)
    dp(0) = (0L, 0, "", Vector.empty)
    var k = 1
    while (k <= L) {
      var best: (Long, Int, String, Vector[String]) = null
      var j = math.max(0, k - maxTokLen)
      while (j < k) {
        if (dp(j) != null) {
          val tok = new String(cps, j, k - j)
          nll.get(tok) match {
            case Some(c) =>
              val path = dp(j)._4 :+ tok
              val key = md5hex(path.mkString(Sep))
              val cand = (dp(j)._1 + c, dp(j)._2 + 1, key, path)
              if (best == null ||
                cand._1 < best._1 ||
                (cand._1 == best._1 && (cand._2 < best._2 ||
                  (cand._2 == best._2 && cand._3 < best._3))))
                best = cand
            case None => ()
          }
        }
        j += 1
      }
      dp(k) = best
      k += 1
    }
    require(dp(L) != null, s"unsegmentable word (vocab missing a code point): $word")
    dp(L)._4
  }

  private def centiNll(total: Long, freq: Long): Int =
    math.round(100.0 * math.log(total.toDouble / freq)).toInt

  /** The EM core shared by [[train]] and [[tokenizeDocs]]: the training
    * histogram, the final (post-M-step) vocabulary with floored freqs,
    * the final E-step's raw counts, and the scores that DROVE that final
    * E-step (so the encode side can reproduce its exact segmentation). */
  private case class EmResult(hist: DataFrame, vocab: Map[String, Long],
                              rawCnt: Map[String, Long],
                              lastNll: Map[String, Int])

  private def runEm(df: DataFrame, textCol: String, maxTokLen: Int,
                    maxWordLen: Int, maxVocab: Int, minFreq: Int,
                    emIters: Int): EmResult = {
    require(maxTokLen >= 1 && maxWordLen >= 1 && maxVocab >= 1 &&
      minFreq >= 1 && emIters >= 1, "all unigram parameters must be >= 1")
    val spark = df.sparkSession
    // one corpus scan; every later pass is over the distinct-word relation
    val hist = Bpe.wordHistogram(df, textCol)
      .where(length(col("word")) <= maxWordLen)
      .localCheckpoint()
    val subUdf = udf((w: String) => cpSubstrings(w, maxTokLen))
    val seedFreqs = hist
      .select(explode(subUdf(col("word"))).as("tok"), col("cnt"))
      .groupBy("tok").agg(sum("cnt").as("freq"))
      .persist()
    val singles = seedFreqs.where(length(col("tok")) === 1)
    val multis = seedFreqs.where(length(col("tok")) >= 2 &&
        col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("tok").asc)
      .limit(maxVocab)
    // the vocabulary is a bounded driver artifact (≤ distinct code points
    // + maxVocab rows) — the IVF-centroid / BPE-merge-list convention
    var vocab: Map[String, Long] = singles.unionByName(multis).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    var rawCnt: Map[String, Long] = Map.empty
    var lastNll: Map[String, Int] = Map.empty
    var it = 0
    while (it < emIters) {
      val total = vocab.values.sum
      lastNll = vocab.map { case (t, f) => t -> centiNll(total, f) }
      val bc = spark.sparkContext.broadcast(lastNll)
      val segUdf = udf((w: String) => viterbi(w, bc.value, maxTokLen))
      val counts = hist
        .select(explode(segUdf(col("word"))).as("tok"), col("cnt"))
        .groupBy("tok").agg(sum("cnt").as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      rawCnt = vocab.keysIterator.map(t => t -> counts.getOrElse(t, 0L)).toMap
      // M-step: singles always survive (score floored at freq 1); unused
      // multi-char tokens are pruned
      vocab = rawCnt.flatMap { case (t, c) =>
        if (cpCount(t) == 1) Some(t -> math.max(c, 1L))
        else if (c > 0) Some(t -> c)
        else None
      }
      bc.unpersist()
      it += 1
    }
    seedFreqs.unpersist()
    EmResult(hist, vocab, rawCnt, lastNll)
  }

  /** Train the unigram vocabulary on `df(textCol)`: seed → `emIters` ×
    * (Viterbi E-step, prune-and-rescore M-step). Returns one row per
    * surviving token: (tok, cnt, nll_c) where `cnt` is the final
    * E-step's raw Viterbi count (0 possible for never-used single code
    * points, whose score floors at freq 1) and `nll_c` the integer
    * centi-nat score. */
  def train(df: DataFrame, textCol: String, maxTokLen: Int = 4,
            maxWordLen: Int = 12, maxVocab: Int = 200, minFreq: Int = 5,
            emIters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val em = runEm(df, textCol, maxTokLen, maxWordLen, maxVocab, minFreq,
      emIters)
    // the result below is pure driver data — unlike tokenizeDocs (whose
    // returned DataFrame reads the histogram lazily), train can free its
    // checkpoint immediately (at this operator's claimed scale the
    // histogram of a 100 TB corpus is billions of rows)
    graft.util.Checkpoints.free(em.hist)
    val total = em.vocab.values.sum
    em.vocab.toSeq.map { case (t, f) =>
      (t, em.rawCnt(t), centiNll(total, f))
    }.toDF("tok", "cnt", "nll_c")
  }

  /** Corpus-level unigram tokenization — the encode side [[train]] stops
    * short of (the p78 shape for this tokenizer family): train, then emit
    * each DOCUMENT's token-id sequence under the FINAL EM iteration's
    * segmentation (the segmentation that produced the final counts, so
    * every emitted token is in the final vocabulary by construction).
    * Returns (doc_id, n_tokens, ids_hash); ids are the 1-based md5-rank
    * of the token (portable across engine collations, the
    * [[Bpe.tokenizeDocs]] convention); words longer than `maxWordLen`
    * code points are dropped exactly as in training, and documents with
    * no tokenizable words produce no row.
    *
    * Scale shape: word → token ids computes once over the DISTINCT-WORD
    * histogram (map-only Viterbi off the corpus hot path); the corpus
    * maps through one word-keyed join + one doc-keyed reassembly — the
    * same two shuffles as the BPE corpus tokenizer. */
  def tokenizeDocs(df: DataFrame, idCol: String, textCol: String,
                   maxTokLen: Int = 4, maxWordLen: Int = 12,
                   maxVocab: Int = 200, minFreq: Int = 5,
                   emIters: Int = 2): DataFrame = {
    val em = runEm(df, textCol, maxTokLen, maxWordLen, maxVocab, minFreq,
      emIters)
    encodeUnder(df, idCol, textCol, em.lastNll, maxTokLen, em.hist)
  }

  /** Encode under an ALREADY-TRAINED score table — one EM run shared
    * between train and tokenize instead of [[tokenizeDocs]] re-running it:
    * `scores` is a (tok, nll_c) relation (e.g. [[train]]'s output, whose
    * `nll_c` is the post-M-step rescore — segmenting under it applies
    * that one extra M-step relative to [[tokenizeDocs]]'s final-E-step
    * scores; both are valid SentencePiece encode conventions). The score
    * table must cover every single code point of the corpus's words
    * ([[train]] guarantees singles survive), or the Viterbi require
    * fires. Bounded driver artifact: `scores` collects (≤ vocab size —
    * the IVF-centroid convention). */
  def tokenizeWith(df: DataFrame, idCol: String, textCol: String,
                   scores: DataFrame, maxTokLen: Int = 4,
                   maxWordLen: Int = 12): DataFrame = {
    val nll = scores.select(col("tok"), col("nll_c").cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val hist = Bpe.wordHistogram(df, textCol)
      .where(length(col("word")) <= maxWordLen)
    encodeUnder(df, idCol, textCol, nll, maxTokLen, hist)
  }

  /** The shared encode tail: Viterbi each DISTINCT word under `nll`
    * (map-only off the corpus hot path), then one word-keyed join + one
    * doc-keyed reassembly. Token ids are the 1-based md5-rank of the
    * token over `nll`'s key set. */
  private def encodeUnder(df: DataFrame, idCol: String, textCol: String,
                          nll: Map[String, Int], maxTokLen: Int,
                          hist: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val vmap = nll.keysIterator.toSeq
      .map(t => t -> md5hex(t)).sortBy(_._2)
      .zipWithIndex.map { case ((t, _), i) => t -> (i + 1) }.toMap
    val bcNll = spark.sparkContext.broadcast(nll)
    val bcIds = spark.sparkContext.broadcast(vmap)
    val idsUdf = udf((w: String) =>
      viterbi(w, bcNll.value, maxTokLen).map(bcIds.value))
    val wordIds = hist.select(col("word"), idsUdf(col("word")).as("ids"))
    val docWords = df
      .select(col(idCol).as("doc_id"),
        posexplode(filter(split(col(textCol), " "),
          x => x =!= "" && !x.contains(Sep))))
      .toDF("doc_id", "wpos", "word")
    docWords.join(wordIds, "word")
      .groupBy("doc_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("wpos"), col("ids")))),
        p => p.getField("ids"))).as("ids"))
      .select(col("doc_id"), size(col("ids")).as("n_tokens"),
        md5(array_join(transform(col("ids"), _.cast("string")), ","))
          .as("ids_hash"))
  }

  /** The DuckDB oracle: seed CTEs, then each EM iteration UNROLLED —
    * a Viterbi DP chain dp{it}_k for k = 1..maxWordLen (each position one
    * MATERIALIZED CTE whose `min(struct_pack(cost, n, key, path))` is
    * exactly the UDF's tie-broken argmin), final segmentations, counts,
    * and the prune-and-rescore vocabulary. Ends with the final vocab
    * ordered by token (byte order — both engines). */
  def oracleSql(maxTokLen: Int, maxWordLen: Int, maxVocab: Int,
                minFreq: Int, emIters: Int): String =
    chainSql(maxTokLen, maxWordLen, maxVocab, minFreq, emIters) +
      s"""
         |SELECT tok, CAST(rawcnt AS BIGINT) AS cnt,
         |  CAST(round(100 * ln(
         |    (SELECT sum(freq) FROM v$emIters)::DOUBLE / freq)) AS INT)
         |    AS nll_c
         |FROM v$emIters ORDER BY tok""".stripMargin

  /** DuckDB oracle for [[tokenizeDocs]]: the training chain, token ids by
    * md5 rank over the final vocabulary, per-word id sequences from the
    * final E-step's segmentations (fs{emIters} — every path token
    * survives the final prune by construction), and per-doc reassembly
    * in word-position order via DuckDB's zipped unnest. */
  def tokenizeOracleSql(maxTokLen: Int, maxWordLen: Int, maxVocab: Int,
                        minFreq: Int, emIters: Int): String = {
    val S = "chr(31)"
    chainSql(maxTokLen, maxWordLen, maxVocab, minFreq, emIters) +
      s""",
         |vids AS MATERIALIZED (SELECT tok,
         |    CAST(row_number() OVER (ORDER BY md5(tok)) AS INT) AS tok_id
         |  FROM v$emIters),
         |wseg AS (SELECT word, unnest(string_split(path, $S)) AS tok,
         |    unnest(range(len(string_split(path, $S)))) AS pos
         |  FROM fs$emIters),
         |wmap AS MATERIALIZED (SELECT word, list(tok_id ORDER BY pos) AS ids
         |  FROM wseg JOIN vids USING (tok) GROUP BY word),
         |dw AS (SELECT doc_id, unnest(ws) AS word,
         |    unnest(range(len(ws))) AS wpos
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '),
         |          x -> x <> '' AND NOT contains(x, $S)) AS ws
         |        FROM documents)),
         |agg AS (SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS ids
         |  FROM dw JOIN wmap USING (word) GROUP BY doc_id)
         |SELECT doc_id, CAST(len(ids) AS INT) AS n_tokens,
         |  md5(array_to_string(ids, ',')) AS ids_hash
         |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** The shared training chain: seed CTEs + emIters unrolled EM rounds,
    * ending after v{emIters} (no trailing comma). */
  private def chainSql(maxTokLen: Int, maxWordLen: Int, maxVocab: Int,
                       minFreq: Int, emIters: Int): String = {
    val S = "chr(31)"
    val sb = new StringBuilder
    sb ++= s"""WITH w AS (SELECT word, count(*) AS cnt FROM (
              |  SELECT unnest(list_filter(string_split(text, ' '),
              |           x -> x <> '' AND NOT contains(x, $S))) AS word
              |  FROM documents) GROUP BY word),
              |tw AS MATERIALIZED (
              |  SELECT word, cnt FROM w WHERE length(word) <= $maxWordLen),
              |sf AS MATERIALIZED (
              |  SELECT tok, CAST(sum(cnt) AS BIGINT) AS freq FROM (
              |    SELECT unnest(flatten(list_transform(range(length(word)), s ->
              |      list_transform(range(1, 1 + least($maxTokLen, length(word) - s)),
              |        l -> substr(word, CAST(s+1 AS INT), CAST(l AS INT))))))
              |      AS tok, cnt
              |    FROM tw) GROUP BY tok),
              |v0 AS MATERIALIZED (
              |  SELECT tok, freq FROM sf WHERE length(tok) = 1
              |  UNION ALL
              |  SELECT tok, freq FROM (
              |    SELECT tok, freq FROM sf
              |    WHERE length(tok) >= 2 AND freq >= $minFreq
              |    ORDER BY freq DESC, tok LIMIT $maxVocab)),
              |sc0 AS MATERIALIZED (
              |  SELECT tok, CAST(round(100 * ln(
              |    (SELECT sum(freq) FROM v0)::DOUBLE / freq)) AS INT) AS nll
              |  FROM v0)""".stripMargin
    for (it <- 1 to emIters) {
      sb ++= s""",
                |dp${it}_0 AS (SELECT word, 0::BIGINT AS cost, 0 AS n, '' AS path
                |  FROM tw)""".stripMargin
      for (k <- 1 to maxWordLen) {
        val branches = (math.max(0, k - maxTokLen) until k).map { j =>
          s"""SELECT d.word, d.cost + v.nll AS c, d.n + 1 AS nn,
             |  md5(CASE WHEN d.path = '' THEN v.tok
             |       ELSE d.path || $S || v.tok END) AS key,
             |  CASE WHEN d.path = '' THEN v.tok
             |       ELSE d.path || $S || v.tok END AS p
             |FROM dp${it}_$j d JOIN sc${it - 1} v
             |  ON v.tok = substr(d.word, ${j + 1}, ${k - j})
             |WHERE length(d.word) >= $k""".stripMargin
        }.mkString("\nUNION ALL\n")
        sb ++= s""",
                  |dp${it}_$k AS MATERIALIZED (
                  |  SELECT word, s['cost'] AS cost, s['n'] AS n, s['path'] AS path
                  |  FROM (SELECT word, min(struct_pack(cost := c, n := nn,
                  |          key := key, path := p)) AS s
                  |        FROM ($branches) GROUP BY word))""".stripMargin
      }
      val fsUnion = (1 to maxWordLen)
        .map(k => s"SELECT word, path FROM dp${it}_$k WHERE length(word) = $k")
        .mkString("\nUNION ALL\n")
      sb ++= s""",
                |fs$it AS MATERIALIZED ($fsUnion),
                |cnt$it AS MATERIALIZED (
                |  SELECT tok, CAST(sum(cnt) AS BIGINT) AS c FROM (
                |    SELECT unnest(string_split(f.path, $S)) AS tok, t.cnt
                |    FROM fs$it f JOIN tw t USING (word))
                |  GROUP BY tok),
                |v$it AS MATERIALIZED (
                |  SELECT v.tok,
                |    CASE WHEN length(v.tok) = 1
                |         THEN greatest(coalesce(c.c, 0), 1)
                |         ELSE c.c END AS freq,
                |    coalesce(c.c, 0) AS rawcnt
                |  FROM v${it - 1} v LEFT JOIN cnt$it c USING (tok)
                |  WHERE length(v.tok) = 1 OR coalesce(c.c, 0) > 0)""".stripMargin
      if (it < emIters)
        sb ++= s""",
                  |sc$it AS MATERIALIZED (
                  |  SELECT tok, CAST(round(100 * ln(
                  |    (SELECT sum(freq) FROM v$it)::DOUBLE / freq)) AS INT) AS nll
                  |  FROM v$it)""".stripMargin
    }
    sb.toString
  }
}
