package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Text-analysis operators for corpus curation: language ID (stopword
  * n-gram heuristic), quality scoring, token counting (whitespace + a
  * BPE-ish rule), and document fingerprinting. All are map-only column
  * expressions with no UDFs, so they cost one scan at any scale. The
  * curation signals (language, token count, quality) come from one native
  * kernel, [[signals]]; [[words]] and [[profileRatio]] are builtin
  * compositions whose `filter` lambda runs interpreted per word.
  */
object TextAnalysis {

  /** Toy stopword profiles per language — the n-gram-heuristic shape of a
    * real language-ID model with a deterministic, test-scale profile. */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** The text's words: maximal runs of characters other than a space
    * (tabs and newlines belong to words). The non-empty `filter` is a
    * lambda, which Spark evaluates interpreted (`ArrayFilter` has no
    * codegen), once per word. */
  def words(text: Column): Column = filter(split(text, " "), w => w =!= "")

  /** Canonical text normalization (the cleaning step every corpus pass
    * runs before dedup/tokenization, so byte-different renderings of the
    * same text hash identically): Unicode NFC (composed form — the
    * native `nfc_normalize` expression, since Spark has no builtin),
    * control characters → space, space runs collapsed, trimmed,
    * lowercased. Everything after the NFC step is builtin codegen.
    * Case-folding note: Spark `lower` and DuckDB `lower` agree on the
    * simple (non-locale, non-full) mapping — the contract here; text in
    * locales with special casing (e.g. dotted/dotless I) normalizes
    * consistently WITHIN each engine either way. */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(Native("nfc_normalize", text),
        "[\\x00-\\x1F\\x7F]", " "),
      " +", " ")))

  /** Fraction of words found in `profile` (exact, case-sensitive
    * matches); 0 for a text without words or a null one. Builtin: [[words]]
    * plus a second interpreted `filter` lambda per word. */
  def profileRatio(text: Column, profile: Seq[String]): Column = {
    val ws = words(text)
    val hits = size(filter(ws, w => profile.map(s => w === s).reduce(_ || _)))
    when(size(ws) > 0, hits.cast("double") / size(ws)).otherwise(lit(0.0))
  }

  /** A document's curation signals from one scan of its text, the native
    * `text_signals` kernel ([[graft.functions.TextSignals]]):
    * `struct<lang STRING, n_tokens INT, quality_score DOUBLE>`. A caller
    * that needs more than one field carries this one column and reads its
    * fields, so the text is scanned once. Never null: a null text gives
    * ("und", null, 0.4). */
  def signals(text: Column): Column = Native("text_signals", text)

  /** Predicted language: the stopword profile with the greatest ratio
    * (rounded to 6 places) if it reaches 0.02, else "und" (undetermined).
    * A tie goes to the greater profile name. A null text is "und". */
  def langId(text: Column): Column = signals(text).getField("lang")

  /** Whitespace token count; null for a null text. */
  def wsTokenCount(text: Column): Column = size(words(text))

  /** BPE-ish token count: runs of ASCII letters, runs of ASCII digits, or
    * any single other non-space code point each count as one token. Null
    * for a null text. */
  def bpeishTokenCount(text: Column): Column = signals(text).getField("n_tokens")

  /** The composite quality score in [0,1], rounded to 6 places: rewards
    * mid-length docs, long-ish words, English stopword presence; penalizes
    * symbol soup (see [[qualityFeatures]] for the features). A null text
    * scores 0.4: its ratios count as 0 and its length score as full. */
  def qualityScore(t: Column): Column = signals(t).getField("quality_score")

  /** The features [[qualityScore]] combines, spelled with builtins
    * (whitespace words, code-point length, English stopword ratio,
    * punctuation ratio), next to the score itself. */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    val nWords = size(ws).cast("double")
    val nChars = length(t).cast("double")
    val avgWordLen = when(nWords > 0, (nChars - (nWords - 1)) / nWords).otherwise(0.0)
    val stopRatio = profileRatio(t, stopwordProfiles("en"))
    val punctRatio = when(nChars > 0,
      size(regexp_extract_all(t, lit("[^A-Za-z0-9 ]"), lit(0))).cast("double") / nChars)
      .otherwise(0.0)
    df.select(col(idCol).as("doc_id"),
      size(ws).as("n_words"),
      length(t).as("n_chars"),
      round(avgWordLen, 6).as("avg_word_len"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(punctRatio, 6).as("punct_ratio"),
      qualityScore(t).as("quality_score"))
  }

  /** Content-defined fingerprint: md5 of the sorted distinct word set —
    * order-insensitive, whitespace-normalized. */
  def bagFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(words(text))), " "))

  /** Full winnowing fingerprint (Schleimer et al., SIGMOD'03): polynomial
    * hash of every character k-gram, minimum per sliding w-window of
    * grams, distinct + sorted. All integer math mod 1e9+7 so an external
    * engine (the DuckDB oracle) reproduces the selection bit-for-bit;
    * entirely builtin higher-order functions — no UDF in the plan.
    * Documents shorter than k+w-1 chars fingerprint to the empty array. */
  def winnowFingerprint(text: Column, k: Int = 5, w: Int = 4): Column = {
    val M = 1000000007L
    val n = length(text)
    val grams = transform(sequence(lit(0), n - k),
      i => aggregate(sequence(lit(0), lit(k - 1)), lit(0L),
        (acc, j) => (acc * 31 + ascii(text.substr(i + j + 1, lit(1)))) % M))
    val mins = transform(sequence(lit(0), size(grams) - w),
      i => array_min(slice(grams, i + 1, lit(w))))
    when(n >= k + w - 1, array_sort(array_distinct(mins)))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Language-model perplexity scoring (the CCNet/RedPajama quality
    * filter, with the KenLM swapped for a corpus-trained word-bigram
    * model): per document, the perplexity exp(-mean ln P(w2|w1)) under an
    * add-α-smoothed bigram model over a capped vocabulary (top `topK`
    * words by count, deterministic count-then-word tie-break; everything
    * else maps to an UNK token). High perplexity marks gibberish, low
    * marks boilerplate — pipelines keep the middle band.
    *
    * Scale shape: the vocabulary is the only driver-bounded artifact
    * (`topK` rows, broadcast). The bigram/unigram count tables are NOT
    * broadcast — scoring joins them by key, so only (token-pair, count)
    * and (doc_id, token-pair) rows shuffle; document text never does.
    * Training on the full corpus including the doc being scored is the
    * standard self-scoring setup for a filter (no train/held-out split).
    */
  def bigramPerplexity(df: DataFrame, idCol: String, textCol: String,
                       topK: Int = 50, alpha: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val par = df.sparkSession.sparkContext.defaultParallelism
    // OOV sentinel: the EMPTY STRING cannot be a real token (words()
    // drops empties on both engines), so in-vocab occurrences can never
    // merge with OOV counts — and it is bit-identical to the oracle's
    // sentinel. Any literal word (or control-prefixed word) here risks
    // colliding with a corpus that happens to contain it.
    val Unk = ""
    val docs = df.repartition(par)
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .repartition(par, col("doc_id"))
    val tokens = docs.select(col("doc_id"), posexplode(col("ws")))
      .toDF("doc_id", "pos", "w")
    val vocab = tokens.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(topK)
      .select(col("w"), lit(true).as("in_vocab"))
    val mapped = tokens.join(broadcast(vocab), Seq("w"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("in_vocab"), col("w")).otherwise(lit(Unk)).as("tok"))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val bigrams = mapped
      .withColumn("tok2", lead("tok", 1).over(byPos))
      .where(col("tok2").isNotNull)
    val bigramCounts = bigrams.groupBy("tok", "tok2").agg(count(lit(1)).as("cb"))
    val unigramCounts = mapped.groupBy("tok").agg(count(lit(1)).as("cu"))
    // every (tok, tok2) of a doc exists in the count tables by construction
    // — inner joins lose nothing
    val scored = bigrams
      .join(bigramCounts, Seq("tok", "tok2"))
      .join(unigramCounts, Seq("tok"))
      .withColumn("logp",
        log((col("cb") + lit(alpha)) / (col("cu") + lit(alpha * (topK + 1)))))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        round(exp(-avg(col("logp"))), 6).as("perplexity"))
    // docs with < 2 words have no bigrams: keep them, unscored
    df.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0)).as("n_bigrams"),
        coalesce(col("perplexity"), lit(0.0)).as("perplexity"))
  }

  /** Interpolated Kneser–Ney bigram language-model scoring — the LM family
    * production corpus filters actually train (KenLM, the CCNet quality
    * signal, is modified KN): unlike [[bigramPerplexity]]'s add-α, KN
    * discounts every observed bigram by a fixed D and backs off to the
    * CONTINUATION distribution (how many distinct contexts a word follows,
    * not how often it occurs) — the correction that stops high-frequency
    * but context-locked words ("Francisco") from inflating backoff mass.
    *
    *   p(w2|w1) = max(c(w1w2)−D, 0)/c(w1·) + D·N1+(w1·)/c(w1·) · pc(w2)
    *   pc(w2)   = N1+(·w2) / N1+(··)
    *
    * with c(w1·) the bigram-start count and N1+ distinct-type counts.
    * Everything is a hash aggregation over the bigram relation — five
    * count tables, all map-side combinable, only (token-pair, count) rows
    * shuffle; the corpus text never re-shuffles after tokenization.
    *
    * Determinism across engines: every probability is one fixed-shape
    * double expression over integer counts (identical IEEE ops in
    * identical order), and the per-document fold sums log-probs in
    * POSITION order via an ordered-list fold (the p38/BM25 convention) —
    * no engine-dependent summation order anywhere.
    */
  def knBigramScore(df: DataFrame, idCol: String, textCol: String,
                    topK: Int = 50, discount: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val par = df.sparkSession.sparkContext.defaultParallelism
    val Unk = "" // see bigramPerplexity: the one impossible token
    val docs = df.repartition(par)
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .repartition(par, col("doc_id"))
    val tokens = docs.select(col("doc_id"), posexplode(col("ws")))
      .toDF("doc_id", "pos", "w")
    val vocab = tokens.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(topK)
      .select(col("w"), lit(true).as("in_vocab"))
    val mapped = tokens.join(broadcast(vocab), Seq("w"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("in_vocab"), col("w")).otherwise(lit(Unk)).as("tok"))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val bigrams = mapped
      .withColumn("tok2", lead("tok", 1).over(byPos))
      .where(col("tok2").isNotNull)
    val cb = bigrams.groupBy("tok", "tok2").agg(count(lit(1)).as("cb"))
    val cu = bigrams.groupBy("tok").agg(count(lit(1)).as("cu")) // c(w1·)
    val n1f = cb.groupBy("tok").agg(count(lit(1)).as("n1f"))    // N1+(w1·)
    val n1b = cb.groupBy("tok2").agg(count(lit(1)).as("n1b"))   // N1+(·w2)
    val n1t = cb.agg(count(lit(1)).as("n1t"))                   // N1+(··)
    // every doc bigram exists in every count table by construction
    val scored = bigrams
      .join(cb, Seq("tok", "tok2"))
      .join(cu, Seq("tok")).join(n1f, Seq("tok"))
      .join(n1b, Seq("tok2")).crossJoin(broadcast(n1t))
      .withColumn("logp", log(
        greatest(col("cb").cast("double") - lit(discount), lit(0.0))
          / col("cu")
          + lit(discount) * col("n1f") / col("cu")
            * (col("n1b").cast("double") / col("n1t"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        aggregate(
          sort_array(collect_list(struct(col("pos"), col("logp")))),
          lit(0.0), (acc, x) => acc + x.getField("logp")).as("lsum"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("lsum"), 6).as("kn_logp"),
        round(exp(-col("lsum") / col("n_bigrams")), 6).as("kn_ppl"))
    df.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0)).as("n_bigrams"),
        coalesce(col("kn_logp"), lit(0.0)).as("kn_logp"),
        coalesce(col("kn_ppl"), lit(0.0)).as("kn_ppl"))
  }

  /** PII patterns shared by the scrub and its oracle: plain ASCII regexes
    * that mean the same thing to Java regex (Spark) and RE2 (DuckDB). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrub for corpus curation: counts and redacts emails, short phone
    * numbers, and IPv4 literals. Map-only builtin regexes — one codegen'd
    * scan at any scale, no UDF. Emails are replaced first so an address's
    * host part can't later half-match the IP pattern. */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
    df.select(col(idCol).as("doc_id"),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).as("n_phones"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).as("n_ips"),
      md5(clean).as("clean_hash"))
  }

  /** Tokenizer vocabulary induction under a fixed budget: the `k` most
    * frequent corpus words — ties broken lexically, the deterministic
    * convention — each with its frequency, rank, and the cumulative
    * fraction of all token occurrences the vocabulary prefix up to it
    * covers (the curve a tokenizer team reads to pick the budget).
    *
    * Distributed shape: word counts are one hash aggregation (only
    * (word, count) shuffles); the top-k is a TakeOrdered (per-partition
    * heaps + driver merge of k rows — no global sort of the vocabulary);
    * the single-partition window for rank/cumsum runs on k rows only (the
    * budget, thousands, not the vocabulary); the corpus-total denominator
    * joins in as a broadcast 1-row aggregate. */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // the repartitioned words projection feeds both passes: the per-row
    // split/filter would otherwise run at the raw scan's 1-2-task
    // parallelism (the single-file-parquet trap measured in Dedup)
    val ws = df.repartition(par).select(words(col(textCol)).as("ws"))
    val wc = ws.select(explode(col("ws")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // corpus-total tokens = sum of per-doc word counts: map-side size()
    // per row then one scalar agg — NOT wc.agg(sum(freq)), which would
    // re-execute the whole explode + vocabulary-wide hash aggregate
    // (Spark shares no common subtrees between the two consumers)
    val total = ws.select(sum(size(col("ws"))).as("total"))
    val byRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("word"))
    wc.orderBy(col("freq").desc, col("word")).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(byRank))
      .withColumn("cum_coverage", round(
        sum("freq").over(byRank.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
          / col("total"), 6))
      .select(col("rank"), col("word"), col("freq"), col("cum_coverage"))
  }

  /** Per-document token-distribution entropy — the lexical-diversity
    * quality signal (low entropy = keyword-stuffed spam, boilerplate,
    * or generated loops; near-max entropy with a big vocabulary =
    * natural prose). Shannon entropy over the whitespace-token
    * histogram, computed as `H = ln(n) − Σ c·ln(c) / n` so a single
    * pass over (doc, token) counts suffices — no per-doc probability
    * normalization pass.
    *
    * Distributed shape: explode words → two map-side-combined hash
    * aggregations, (doc, token) counts then the per-doc fold. Only
    * (doc_id, token) pairs shuffle, never text. Token-free documents
    * have no histogram and are absent from the output (their entropy is
    * undefined, not zero).
    *
    * Emits (doc_id, n_tokens, n_distinct, entropy), entropy rounded to
    * 6 per the cross-engine float convention.
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val counts = df.repartition(par)
      .select(col(idCol).as("doc_id"), explode(words(col(textCol))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(log(col("n_tokens").cast("double")) - col("s") / col("n_tokens"), 6)
          .as("entropy"))
  }

  /** Within-document repetition signals (the Gopher/MassiveText quality
    * rules, Rae et al. 2021 §A1.1): for each n in `ns`, the fraction of
    * characters contained in word n-grams that occur more than once in the
    * document. A high duplicate-n-gram fraction marks boilerplate and
    * machine-generated spam.
    *
    * Distributed shape: explode to (doc_id, n, gram) — grams hashed to
    * 64-bit before the shuffle — count per key, and aggregate the
    * duplicated fraction back per doc. Only hashes shuffle; document text
    * stays in its scan partition. The word count rides along so callers
    * can threshold like the paper (e.g. drop docs with dup_2gram > 0.2). */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, ns: Seq[Int] = Seq(2, 3)): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    // same exchange discipline as Dedup.ngramJaccardPairs: spread the
    // per-row lambdas, then a barrier so the words array is materialized
    // once instead of re-split per element
    val base = df.repartition(par)
      .select(col(idCol).as("doc_id"),
        filter(split(col(textCol), " "), w => w =!= "").as("words"))
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), col("words"),
        // chars-in-words denominator: total word chars (separators excluded,
        // so the fractions are length-weighted over content, not layout)
        aggregate(col("words"), lit(0L), (a, w) => a + length(w)).as("n_chars"))
    val gramRows = ns.map { n =>
      // NON-distinct n-grams, each with its char length (sum of member
      // word lengths) — repetition needs every occurrence, so this is NOT
      // ngramsOfWords (which deduplicates)
      val grams = when(size(col("words")) < n, array().cast("array<struct<h:bigint,len:bigint>>"))
        .otherwise(transform(sequence(lit(0), size(col("words")) - n),
          i => struct(
            xxhash64(concat_ws(" ",
              (0 until n).map(j => element_at(col("words"), i + j + 1)): _*)).as("h"),
            (0 until n).map(j => length(element_at(col("words"), i + j + 1)).cast("long"))
              .reduce(_ + _).as("len"))))
      base.select(col("doc_id"), col("n_chars"), lit(n).as("n"),
        explode(grams).as("g"))
    }.reduce(_ unionByName _)
    val perGram = gramRows
      .groupBy(col("doc_id"), col("n_chars"), col("n"), col("g.h").as("h"))
      .agg(count(lit(1)).as("occ"), max(col("g.len")).as("len"))
    // one conditional aggregation instead of pivot+joins: per doc, for each
    // n, the char coverage of the single most-repeated gram (Gopher's exact
    // small-n rule) and of all duplicated grams (the standard
    // no-overlap-correction approximation, clamped to 1)
    val aggs = ns.flatMap { n =>
      Seq(
        max(when(col("n") === n, col("occ") * col("len"))).as(s"top_$n"),
        sum(when(col("n") === n && col("occ") > 1, col("occ") * col("len"))
          .otherwise(0L)).as(s"dup_$n"))
    }
    val perDoc = perGram.groupBy("doc_id", "n_chars").agg(aggs.head, aggs.tail: _*)
    def frac(c: Column) = when(col("n_chars") > 0,
      round(least(c.cast("double") / col("n_chars"), lit(1.0)), 6)).otherwise(0.0)
    val signals = perDoc.select(col("doc_id") +: ns.flatMap(n => Seq(
      frac(coalesce(col(s"top_$n"), lit(0L))).as(s"top_${n}gram_frac"),
      frac(col(s"dup_$n")).as(s"dup_${n}gram_frac"))): _*)
    // docs shorter than min(ns) words produce no gram rows at all — keep
    // them in the signal table with all-zero fractions
    df.select(col(idCol).as("doc_id")).join(signals, Seq("doc_id"), "left")
      .select(col("doc_id") +: ns.flatMap(n => Seq(
        coalesce(col(s"top_${n}gram_frac"), lit(0.0)).as(s"top_${n}gram_frac"),
        coalesce(col(s"dup_${n}gram_frac"), lit(0.0)).as(s"dup_${n}gram_frac"))): _*)
  }

  /** Fixed-window document chunking with overlap — the context-length
    * splitter that prepares long documents for embedding or training.
    * Chunk i covers whitespace tokens `[i*stride, i*stride + window)`;
    * consecutive chunks overlap by `window - stride` tokens so no boundary
    * context is lost. The last chunk always reaches the document's end; a
    * document of at most `window` tokens yields exactly one chunk, and an
    * empty document yields none.
    *
    * Emits (doc_id, chunk_idx, start_tok, n_tokens, chunk_hash) — the
    * chunk *hash*, not its text, so the output stays narrow; callers that
    * need the text re-slice it from the source row by (doc_id, start_tok).
    *
    * Scale shape: map-only builtin higher-order functions
    * (sequence/transform/slice + posexplode) — one codegen'd scan, zero
    * shuffles at any corpus size; the ~n/stride row fan-out carries
    * fixed-width rows only. */
  def chunkWithOverlap(df: DataFrame, idCol: String, textCol: String,
                       window: Int = 32, stride: Int = 24): DataFrame = {
    require(stride > 0 && stride <= window, "need 0 < stride <= window")
    val ws = words(col(textCol))
    val n = size(ws)
    // chunk count: 1 + ceil((n - window) / stride) once n exceeds the
    // window — floor-division form keeps both engines in exact math
    val nc = when(n <= window, lit(1))
      .otherwise(lit(1) + floor((n - window + lit(stride - 1)) / lit(stride)).cast("int"))
    val chunks = transform(sequence(lit(0), nc - 1), i => {
      val toks = slice(ws, i * stride + 1, lit(window))
      struct((i * stride).as("start_tok"), size(toks).as("n_tokens"),
        md5(array_join(toks, " ")).as("chunk_hash"))
    })
    df.select(col(idCol).as("doc_id"), n.as("n"), chunks.as("cs"))
      .where(col("n") > 0)
      .select(col("doc_id"), posexplode(col("cs")))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        col("col.start_tok").as("start_tok"), col("col.n_tokens").as("n_tokens"),
        col("col.chunk_hash").as("chunk_hash"))
  }

  /** Content-defined chunking (the storage-dedup CDC scheme applied to
    * corpus text): chunk boundaries fall where the k-code-point rolling
    * hash ([[graft.functions.RollingAnchors]], the poly31 family) is
    * ≡ 0 mod `stride` — boundaries depend only on LOCAL content, so an
    * insertion near the front shifts only the chunk it lands in while
    * every later boundary re-aligns. [[chunkWithOverlap]]'s fixed
    * windows shift ALL downstream chunk hashes on a one-word insertion;
    * CDC is the standard fix (expected chunk length ≈ `stride` code
    * points). Emits (doc_id, chunk_idx, chunk_start, chunk_len,
    * chunk_hash) with offsets in code points; chunk-level dedup is a
    * groupBy on chunk_hash downstream.
    *
    * Scale shape: entirely map-only — one native O(n) rolling-hash pass
    * per document, builtin array ops for bounds, one substring per
    * emitted chunk. Zero shuffles at any corpus size. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                k: Int, stride: Int): DataFrame = {
    require(k >= 1 && stride >= 1, s"k=$k stride=$stride")
    val cuts = filter(
      Native("rolling_anchors", col("text"), lit(k), lit(stride)),
      p => p > 0)
    df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .where(length(col("text")) > 0)
      .withColumn("bounds",
        concat(array(lit(0)), cuts, array(length(col("text")))))
      .withColumn("cs", transform(sequence(lit(0), size(col("bounds")) - 2),
        i => struct(
          element_at(col("bounds"), i + 1).as("cstart"),
          (element_at(col("bounds"), i + 2)
            - element_at(col("bounds"), i + 1)).as("clen"))))
      .select(col("doc_id"), col("text"), posexplode(col("cs")))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        col("col.cstart").as("chunk_start"), col("col.clen").as("chunk_len"),
        col("text"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        col("chunk_len"),
        md5(expr("substring(text, chunk_start + 1, chunk_len)"))
          .as("chunk_hash"))
  }

  /** CCNet-style perplexity bucketing: score every document with the
    * corpus-trained bigram LM ([[bigramPerplexity]]), then split each
    * language into head / middle / tail by per-language perplexity
    * tercile CUTOFF VALUES (CCNet §4.3 keeps the low-perplexity "head"
    * and samples the middle; the tail is gibberish).
    *
    * Scale shape — cutoffs by value, not by NTILE rank: an NTILE over
    * `partitionBy(lang)` would sort every document of a language inside
    * ONE task (a few-language 100 TB corpus = a handful of giant
    * partitions). Instead the per-language perplexity HISTOGRAM
    * (`groupBy(lang, perplexity)` — map-side combinable, bounded by
    * distinct rounded values) is cumulated, the two tercile cutoffs are
    * read off it (smallest value whose cumulative count reaches ⌈n/3⌉ /
    * ⌈2n/3⌉, exact integer thresholds), and documents bucket by a
    * broadcast compare. The full corpus never sorts and never
    * re-shuffles after scoring; ties on a cutoff value all land in the
    * lower bucket in both engines (value-deterministic, unlike NTILE's
    * arbitrary tie split). */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
                   langCol: String, topK: Int = 50,
                   alpha: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persist: the scored relation feeds the histogram, the per-language
    // counts, AND the final bucket join — one materialization instead of
    // three executions of the LM-scoring DAG at corpus scale (at bench
    // scale exchange reuse already dedups most of it; at 100 TB the
    // guarantee matters). It backs the lazily-returned result, so it
    // cannot be unpersisted here — the operator's working set, freed
    // with the caller's caches (the Bpe.tokenizedVocab convention)
    val scored = df.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
      .join(bigramPerplexity(df, idCol, textCol, topK, alpha), Seq("doc_id"))
      .persist()
    // histogram of distinct rounded perplexities per language: the only
    // relation the cumulative window ever sorts (≤ distinct-value rows)
    val hist = scored.groupBy("lang", "perplexity").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.partitionBy("lang").orderBy("perplexity")))
    val n = scored.groupBy("lang").agg(count(lit(1)).as("n"))
    // ⌈n/3⌉ = (n+2) div 3 in exact integer math (same literal form in
    // the DuckDB oracle — no double division anywhere near the cutoff)
    val cuts = cum.join(n, Seq("lang"))
      .groupBy("lang")
      .agg(
        min(when(col("cum") >= expr("(n + 2) div 3"), col("perplexity")))
          .as("cut1"),
        min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("perplexity")))
          .as("cut2"))
    scored.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("perplexity"),
        when(col("perplexity") <= col("cut1"), lit("head"))
          .when(col("perplexity") <= col("cut2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Pointwise mutual information over in-document word co-occurrence —
    * the classic distributional-semantics association score (phrase
    * mining, collocation detection, embedding pre-analysis):
    *
    *   pmi(a,b) = ln( N · c(a,b) / (c(a) · c(b)) )
    *
    * where c(a,b) counts documents containing BOTH words, c(a) documents
    * containing a, and N the corpus size. Restricted to the `vocabK`
    * most frequent words (the same deterministic count-then-word
    * tie-break as the LM vocab) so the pair space is vocabK², not
    * vocabulary².
    *
    * Scale shape: the vocab is a broadcast semi-join; each document then
    * contributes only its ≤ vocabK DISTINCT in-vocab words, pairs
    * generate per-document (bounded self-join within a doc, no global
    * cross), and the pair counts hash-aggregate map-side. The corpus
    * text shuffles once (tokenize → distinct words); everything after is
    * counts. */
  def pmiCooccurrence(df: DataFrame, idCol: String, textCol: String,
                      vocabK: Int = 30, minPairs: Int = 2): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val docWords = df.repartition(par)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(words(col(textCol)))).as("w"))
    val vocab = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabK)
      .select("w")
    // persist: the in-vocab projection feeds the word counts and both
    // pair sides (≤ vocabK distinct words per doc — bounded rows). Backs
    // the lazily-returned result → stays cached by the working-set
    // convention; callers drop it with their caches
    val inVocab = docWords.join(broadcast(vocab), Seq("w")).persist()
    val nDocs = df.select(col(idCol)).count()
    val wordDf = inVocab.groupBy("w").agg(count(lit(1)).as("cw"))
    val left = inVocab.select(col("doc_id"), col("w").as("w1"))
    val right = inVocab.select(col("doc_id"), col("w").as("w2"))
    val pairs = left.join(right, Seq("doc_id"))
      .where(col("w1") < col("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("cab"))
      .where(col("cab") >= minPairs)
    pairs
      .join(wordDf.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
      .join(wordDf.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("cab"), col("c1"), col("c2"),
        round(log(lit(nDocs.toDouble) * col("cab") / (col("c1") * col("c2"))), 6)
          .as("pmi"))
  }

  /** Winnowing fingerprint: minimum rolling polynomial hash over character
    * k-grams (k=16). Robust to word order only at gram granularity; pure
    * Scala for use in a UDF. */
  def winnow64(text: String, k: Int = 16): Long = {
    if (text == null || text.length < k) return 0L
    val B = 0x100000001b3L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + text.charAt(i); i += 1 }
    var min = h
    i = k
    while (i < text.length) {
      h = (h - text.charAt(i - k) * pow) * B + text.charAt(i)
      if (h < min) min = h
      i += 1
    }
    min
  }
}
