package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Checkpoints

/** Distributed BPE-merge tokenizer induction (Sennrich et al. 2016,
  * arXiv:1508.07909) — the iterative pair-merging that [[TextAnalysis.vocabTopK]]'s
  * whole-word ranking is not: each round finds the globally most frequent
  * adjacent symbol pair and fuses it into a new symbol.
  *
  * Distributed shape (the part that matters at 100 TB):
  *  - the corpus is scanned ONCE, into a (word, count) histogram — the
  *    classic BPE-on-histogram reduction; every later round works on the
  *    distinct-word relation (vocabulary-sized, corpus-size-independent);
  *  - each round is ONE map-side-combinable hash aggregate over the
  *    histogram's adjacent pairs (weighted by word count), a bounded
  *    top-`batchK` collect (driver traffic like the IVF centroid pull),
  *    and a map-only re-tokenize with the round's ACCEPTED MERGE BATCH
  *    inlined — [[selectBatch]] proves which prefix of the ranked pairs
  *    sequential training would pick verbatim, so a 32k-merge vocabulary
  *    runs in ~hundreds of rounds, not 32k driver-synchronized jobs,
  *    while staying bit-identical to one-merge-at-a-time training;
  *  - `localCheckpoint` after each round keeps the plan flat instead of
  *    stacking `numMerges` UDF layers of lineage.
  *
  * The re-tokenize itself is a row-local Scala UDF — acceptable off the
  * hot path because it runs over the histogram, never the corpus.
  *
  * Merging is greedy left-to-right non-overlapping, exactly the semantics
  * of a string `replace` over a separator-joined symbol string — which is
  * how the p31 DuckDB oracle reproduces every round bit-for-bit.
  */
object Bpe {

  /** Symbol separator for the pair-string tie-break; below every
    * printable character, so `concat(l, Sep, r)` string order equals
    * (l, r) tuple order on printable-text corpora — and the oracle's
    * `ORDER BY pr` matches. */
  val Sep = "\u001f"

  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** One corpus scan → (word, cnt) histogram; words split on single
    * spaces to match the rest of the pipeline's tokenization (and the
    * DuckDB `string_split(text, ' ')` oracles).
    *
    * Words containing [[Sep]] (U+001F) are DROPPED here, enforcing the
    * invariant the whole trainer rests on: `Sep` must never occur inside
    * a symbol, or the tie-break pair string stops encoding (l, r)
    * uniquely, `encodeWords`' toks_hash can collide, and the oracle's
    * replace-based merge becomes ambiguous. Control-character tokens are
    * noise in any real corpus, so filtering (mirrored in the oracle's
    * `w` CTE) is the enforcement, not a semantic loss. */
  def wordHistogram(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(filter(split(col(textCol), " "),
        x => x =!= "" && !x.contains(Sep))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** BATCHED merge selection with an EXACT-equivalence guarantee: from
    * the round's top-`batchK` pairs (sorted (freq desc, pair-string asc),
    * the sequential tie-break), accept the longest prefix that sequential
    * greedy training would provably pick in this order. A 32k-merge
    * vocabulary then needs ~hundreds of synchronized rounds instead of
    * 32k sequential argmax jobs — the standard batched-BPE optimization,
    * but with acceptance rules strict enough that the result is
    * BIT-IDENTICAL to one-merge-at-a-time training (pinned in `BpeSpec`
    * against a scalar reference; the sequential-unrolled DuckDB oracle
    * is unchanged).
    *
    * Why a prefix of the sorted list, and when it must stop — the proof
    * obligations, stated as the rules:
    *
    *  - head always accepted: it is the literal argmax with the exact
    *    sequential tie-break.
    *  - disjoint symbols: merging (a,b) neither creates nor destroys an
    *    occurrence of any pair sharing no symbol with it, so a disjoint
    *    next pair keeps its exact count; applying pairwise-disjoint
    *    merges in ONE left-to-right scan equals applying them one at a
    *    time. First conflicting candidate → stop (its post-merge count
    *    is unknowable without recounting).
    *  - tie safety: a merge of (a,b) can CREATE pairs (x,ab)/(ab,y),
    *    each bounded by the round-start count of a generator pair that
    *    shares a symbol with (a,b). All non-accepted pairs rank at or
    *    below the candidate, so a created pair can only beat it on an
    *    exact frequency TIE — accept only when the candidate's count is
    *    strictly above every potential generator: above the collected
    *    tail when the list was truncated (out-of-list generators), and
    *    above every EQUAL-count in-list pair that conflicts with the
    *    accepted set.
    *  - self-pair (l==r): accept, then stop — runs of l create (ll,ll)
    *    pairs whose generator is the accepted pair itself, which the
    *    conflict bound cannot see.
    *  - alias (l+r equals a previously created symbol, or another
    *    in-batch output): accept, then stop — the new symbol pools
    *    counts with an existing one, so later created-pair bounds
    *    stop holding.
    */
  private[pipeline] def selectBatch(cands: Seq[(String, String, Long)],
                                    truncated: Boolean,
                                    priorSymbols: Set[String]): Seq[(String, String, Long)] = {
    val tailFreq = if (truncated) cands.last._3 else -1L
    val acc = Seq.newBuilder[(String, String, Long)]
    val accSyms = scala.collection.mutable.Set[String]()
    val accNew = scala.collection.mutable.Set[String]()
    var stop = false
    var i = 0
    while (!stop && i < cands.length) {
      val (l, r, f) = cands(i)
      val disjoint = !accSyms(l) && !accSyms(r) && !accNew(l) && !accNew(r)
      // the list is ranked (freq DESC, pair), so equal-count conflicts are
      // contiguous from i+1 — scan by index until the count drops, no
      // per-candidate slice allocation
      val tieSafe = f > tailFreq && {
        var ok = true
        var j = i + 1
        while (ok && j < cands.length && cands(j)._3 == f) {
          if (accSyms(cands(j)._1) || accSyms(cands(j)._2)) ok = false
          j += 1
        }
        ok
      }
      if (i == 0 || (disjoint && tieSafe)) {
        acc += ((l, r, f))
        // stop-AFTER rules: the accepted merge is still provably the
        // sequential pick; only picks beyond it lose their bounds
        if (l == r || priorSymbols(l + r) || accNew(l + r)) stop = true
        accSyms += l; accSyms += r; accNew += (l + r)
      } else stop = true
      i += 1
    }
    acc.result()
  }

  /** The LOOSER standard batched-BPE selection, for [[trainFast]]: walk
    * the ranked list greedily taking every pair that is symbol-disjoint
    * from the accepted set (SKIPPING conflicts instead of stopping),
    * still excluding self-pairs and aliases beyond the stop point so the
    * one-scan application stays valid, and only while a pair's count
    * stays within HALF the round head's — the standard halving guard: a
    * pair below f0/2 can be overtaken by pairs the earlier merges create
    * or re-rank, so it is cheaper to re-rank it next round than to spend
    * merge budget on it out of order. Much larger batches than
    * [[selectBatch]] — and NOT sequential-exact: a skipped conflicting
    * pair may have outranked a later accepted one after recounting.
    * The trade is the standard one production tokenizers make. */
  private[pipeline] def selectBatchFast(cands: Seq[(String, String, Long)],
                                        priorSymbols: Set[String]): Seq[(String, String, Long)] = {
    val floor = cands.head._3 / 2
    val acc = Seq.newBuilder[(String, String, Long)]
    val accSyms = scala.collection.mutable.Set[String]()
    val accNew = scala.collection.mutable.Set[String]()
    var stop = false
    var i = 0
    while (!stop && i < cands.length) {
      val (l, r, f) = cands(i)
      if (i > 0 && f < floor) stop = true
      else if (!accSyms(l) && !accSyms(r) && !accNew(l) && !accNew(r)) {
        acc += ((l, r, f))
        // the same application-validity stops as selectBatch: a self-pair
        // or an aliased output inside the batch breaks the disjoint
        // one-scan argument for LATER accepts
        if (l == r || priorSymbols(l + r) || accNew(l + r)) stop = true
        accSyms += l; accSyms += r; accNew += (l + r)
      }
      i += 1
    }
    acc.result()
  }

  /** Up to `numMerges` global argmax-pair merges over the histogram,
    * batched per round by [[selectBatch]] (exact — see its proof notes).
    * Ties on frequency resolve to the lexicographically smallest
    * separator-joined pair string, matching the oracle's `ORDER BY freq
    * DESC, pr`. Stops early only when no adjacent pair remains.
    * Per round: ONE map-side-combinable hash aggregate over the
    * histogram's adjacent pairs, one bounded top-`batchK` collect, one
    * map-only re-tokenize with ALL accepted merges inlined. */
  def train(words: DataFrame, numMerges: Int): Seq[Merge] =
    trainRounds(words, numMerges)._1

  /** PRODUCTION-scale batched training — the explicit opt-out from
    * [[train]]'s bit-exact-sequential guarantee: per round the top-`batchK`
    * pairs are taken greedily wherever symbol-disjoint
    * ([[selectBatchFast]] — conflicts are skipped, not batch-ending), so
    * a 32k-merge vocabulary needs on the order of `32k / batchK` rounds.
    * The merge LIST may deviate from sequential training where skipped
    * conflicts would have outranked later picks after recounting — the
    * standard batched-BPE trade; each accepted batch still applies in one
    * scan with unchanged greedy semantics. Use [[train]] when
    * reproducibility against a sequential reference matters (it is the
    * catalog/oracle default); `BpeSpec` pins trainFast's round count and
    * its merge-set overlap with sequential on realistic text. */
  def trainFast(words: DataFrame, numMerges: Int,
                batchK: Int = 256): (Seq[Merge], Int) =
    trainLoop(words, numMerges, batchK,
      (cands, _, prior) => selectBatchFast(cands, prior))

  /** [[train]] plus the number of Spark rounds it ran — exposed for the
    * batching-effectiveness assertion in `BpeSpec`. */
  private[pipeline] def trainRounds(words: DataFrame, numMerges: Int,
                                    batchK: Int = 64): (Seq[Merge], Int) =
    trainLoop(words, numMerges, batchK,
      (cands, truncated, prior) => selectBatch(cands, truncated, prior))

  private def trainLoop(words: DataFrame, numMerges: Int, batchK: Int,
                        selector: (Seq[(String, String, Long)], Boolean,
                          Set[String]) => Seq[(String, String, Long)])
      : (Seq[Merge], Int) = {
    require(numMerges > 0, "need at least one merge round")
    require(batchK >= 1, s"batchK=$batchK")
    val sc = words.sparkSession.sparkContext
    val ownCheckpoints = Seq.newBuilder[Int]
    // (?s) so line terminators survive as symbols — a bare `.` silently
    // DROPS them, leaving symbols that no longer concatenate back to the
    // word (and diverging from the oracle's character slicing). Java
    // regex `.` consumes one CODE POINT, matching DuckDB's code-point
    // slicing and [[codePoints]] in encodeWords.
    var st = words
      .select(regexp_extract_all(col("word"), lit("(?s)."), lit(0)).as("syms"),
        col("cnt"))
      .where(size(col("syms")) > 0)
      .localCheckpoint()
    ownCheckpoints ++= Checkpoints.rdds(st).map(_.id)
    val merges = Seq.newBuilder[Merge]
    // all merge outputs so far: selectBatch's alias rule needs to know
    // every multi-code-point symbol that can exist in the state (original
    // symbols are single code points, so prior outputs are exactly that
    // set). Bounded by numMerges — a driver artifact like the merge list.
    val createdSymbols = scala.collection.mutable.Set[String]()
    var done = 0
    var rounds = 0
    var exhausted = false
    try while (done < numMerges && !exhausted) {
      val n = size(col("syms"))
      val top = st
        .select(explode(zip_with(
          slice(col("syms"), lit(1), n - 1), slice(col("syms"), lit(2), n - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, concat(col("l"), lit(Sep), col("r")).asc)
        .limit(batchK).collect()
      if (top.isEmpty) exhausted = true
      else {
        val cands = top.toSeq.map(r =>
          (r.getString(0), r.getString(1), r.getLong(2)))
        val accepted = selector(cands, cands.length == batchK,
            createdSymbols.toSet)
          .take(numMerges - done)
        accepted.foreach { case (l, r, f) =>
          done += 1
          merges += Merge(done, l, r, f)
          createdSymbols += (l + r)
        }
        // ONE scan applies the whole batch: accepted pairs are pairwise
        // symbol-disjoint, so simultaneous == one-at-a-time (see
        // selectBatch). Map lookup keyed on the separator-joined pair —
        // Sep never occurs inside a symbol (wordHistogram's invariant).
        val mmap = accepted.map { case (l, r, _) => (l + Sep + r) -> (l + r) }.toMap
        val mergeUdf = udf((syms: Seq[String]) => {
          val out = Seq.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            val merged =
              if (i + 1 < syms.length) mmap.get(syms(i) + Sep + syms(i + 1))
              else None
            merged match {
              case Some(m) => out += m; i += 2
              case None => out += syms(i); i += 1
            }
          }
          out.result()
        })
        // lazy checkpoint: materializes inside the NEXT round's argmax job
        // instead of costing a separate job per round (2x fewer jobs —
        // round overhead dominates when the histogram is small)
        st = st.withColumn("syms", mergeUdf(col("syms"))).localCheckpoint(false)
        ownCheckpoints ++= Checkpoints.rdds(st).map(_.id)
        rounds += 1
      }
    }
    // free exactly the checkpoints THIS call created (tracked by RDD id
    // — a blanket registry diff would unpersist concurrent jobs' caches
    // on a shared session, and unpersisting someone else's localCheckpoint
    // is unrecoverable): otherwise numMerges materialized copies of the
    // histogram sit in the block manager for the rest of the session (at
    // the operator's own claimed scale, the histogram of a 100 TB corpus
    // is billions of rows). In a finally so a mid-round failure can't
    // leak them either.
    finally {
      val persisted = sc.getPersistentRDDs
      ownCheckpoints.result().foreach(id => persisted.get(id).foreach(_.unpersist(false)))
    }
    (merges.result(), rounds)
  }

  /** Train on `df(textCol)` and return the merge table as a DataFrame:
    * (rank, lft, rgt, freq) — the artifact a tokenizer loads. */
  def mergeTable(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    train(wordHistogram(df, textCol), numMerges)
      .map(m => (m.rank, m.left, m.right, m.freq))
      .toDF("rank", "lft", "rgt", "freq")
  }

  /** Apply `ms` (rank-ordered (left, right) pairs) to one word: code-point
    * split (NOT word.map(_.toString), which would cleave surrogate pairs
    * into half-characters and diverge from train's regex split and the
    * oracle's slicing), then each merge greedy left-to-right. */
  private def applyMergesToWord(ms: Array[(String, String)],
                                word: String): Seq[String] = {
    var syms: Seq[String] = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toSeq
    ms.foreach { case (l, r) =>
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += l + r; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  /** ENCODE side of the tokenizer: apply a trained merge list to a word
    * histogram, in rank order, each merge greedy left-to-right — one
    * map-only pass with the merges in the UDF closure (the merge table is
    * a bounded driver artifact like the IVF centroids; at 100 TB this
    * runs over the distinct-word histogram once and the corpus maps
    * word→tokens through the resulting lookup). Because each round's
    * merge touches every word independently, applying all merges
    * per-word in rank order reproduces [[train]]'s final state exactly.
    *
    * Returns (word, cnt, n_tokens, toks_hash): the tokenized vocabulary
    * with md5 over the Sep-joined symbol sequence, cross-engine
    * hashable. */
  def encodeWords(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val ms = merges.sortBy(_.rank).map(m => (m.left, m.right)).toArray
    val applyUdf = udf((word: String) => applyMergesToWord(ms, word))
    words.where(length(col("word")) > 0)
      .withColumn("toks", applyUdf(col("word")))
      .select(col("word"), col("cnt"),
        size(col("toks")).as("n_tokens"),
        md5(concat_ws(Sep, col("toks"))).as("toks_hash"))
  }

  /** Corpus-level tokenization (the step [[tokenizedVocab]] stops short
    * of): train on the one-scan histogram, then emit each DOCUMENT's
    * token-id sequence — the artifact sequence packing and LM training
    * actually consume. Returns (doc_id, n_tokens, ids_hash) with
    * `ids_hash` = md5 over the comma-joined id sequence; documents with
    * no tokenizable words produce no row.
    *
    * Token ids are deterministic and portable rather than meaningful:
    * id = 1-based rank of the symbol under md5-of-symbol order. Ranking
    * by the symbol STRING would hit engine collation differences
    * (UTF-16 code-unit vs UTF-8 byte order diverge above the BMP); md5
    * hex is ASCII on both engines. A production tokenizer would rank by
    * frequency — a relabeling, nothing downstream here depends on it.
    *
    * Scale shape: merges and the symbol vocabulary (≤ distinct code
    * points + numMerges entries) are bounded driver artifacts like the
    * IVF centroids; word → ids runs once over the DISTINCT-WORD
    * histogram (map-only UDF off the corpus hot path); the corpus then
    * maps through that lookup with one join keyed by word and one
    * doc-keyed reassembly — two shuffles of (doc, word-position, ids)
    * rows, never a per-round pass. The per-doc reassembly buffer holds
    * one document's token ids (the bounded-document contract every
    * per-doc text operator here shares). */
  def tokenizeDocs(df: DataFrame, idCol: String, textCol: String,
                   numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    val hist = wordHistogram(df, textCol).localCheckpoint()
    val merges = train(hist, numMerges)
    val ms = merges.sortBy(_.rank).map(m => (m.left, m.right)).toArray
    val applyUdf = udf((word: String) => applyMergesToWord(ms, word))
    // word → symbol sequence over the histogram; persisted: read once to
    // collect the vocab and once by the corpus join (the operator's
    // working set, the [[tokenizedVocab]] convention)
    val wordToks = hist.where(length(col("word")) > 0)
      .select(col("word"), applyUdf(col("word")).as("toks"))
      .persist()
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val vmap = wordToks.select(explode(col("toks")).as("sym")).distinct()
      .collect().map(_.getString(0))
      .map(s => s -> md5hex(s)).sortBy(_._2)
      .zipWithIndex.map { case ((s, _), i) => s -> (i + 1) }.toMap
    val bc = spark.sparkContext.broadcast(vmap)
    val idsUdf = udf((toks: Seq[String]) => toks.map(bc.value))
    val wordIds = wordToks.select(col("word"), idsUdf(col("toks")).as("ids"))
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

  /** Train + encode over `df(textCol)`: the p33 catalog shape. The
    * histogram is checkpointed once and shared by both passes (the
    * corpus shuffles exactly once). That one histogram copy stays in
    * the block manager until the caller drops caches — the returned
    * DataFrame reads it lazily, so it cannot be freed here; it is the
    * operator's working set, not a leak (train's per-round copies ARE
    * freed internally). */
  def tokenizedVocab(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val hist = wordHistogram(df, textCol).localCheckpoint()
    encodeWords(hist, train(hist, numMerges))
  }

  /** The DuckDB oracle for [[mergeTable]]: the training loop UNROLLED into
    * one CTE chain per round (state sR → pair counts pR → argmax bR →
    * merged state sR+1). State is the separator-joined symbol string
    * `chr(31) || sym || chr(31)chr(31) || sym … || chr(31)`; applying a
    * merge is `replace(st, ␟l␟␟r␟ → ␟lr␟)`, whose left-to-right
    * non-overlapping scan is exactly [[train]]'s greedy merge.
    *
    * Every per-round CTE is MATERIALIZED: DuckDB inlines CTEs by
    * default, and with bR referenced three times per round the chain
    * would expand 3^rounds-fold (it exhausts file handles re-opening the
    * parquet before it exhausts time). The state replace is wrapped in
    * `coalesce(…, st)` so a corpus that exhausts its pairs before the
    * last round carries the state through unchanged (empty bR → NULL
    * scalar subqueries → NULL replace) exactly as [[train]]'s early
    * stop does. */
  private val S = "chr(31)"
  private val SS = s"$S||$S"

  /** The shared training chain (see [[oracleSql]]); state rows carry
    * (word, st, cnt) so the encode oracle can key its output. Ends after
    * the s`numMerges` CTE, no trailing comma. */
  private def chainSql(numMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w AS (SELECT word, count(*) AS cnt FROM (
              |  SELECT unnest(list_filter(string_split(text, ' '),
              |           x -> x <> '' AND NOT contains(x, $S))) AS word
              |  FROM documents) GROUP BY word),
              |s0 AS MATERIALIZED (SELECT word, $S || array_to_string(list_transform(range(length(word)),
              |         i -> word[CAST(i+1 AS INT):CAST(i+1 AS INT)]), $SS) || $S AS st, cnt
              |       FROM w)""".stripMargin
    for (r <- 0 until numMerges) {
      sb ++= s""",
                |p$r AS MATERIALIZED (SELECT pr, sum(cnt) AS freq FROM (
                |  SELECT unnest(list_transform(range(len(sy) - 1),
                |           i -> sy[i+1] || $S || sy[i+2])) AS pr, cnt
                |  FROM (SELECT string_split(st[2:length(st)-1], $SS) AS sy, cnt FROM s$r))
                |  GROUP BY pr),
                |b$r AS MATERIALIZED (SELECT string_split(pr, $S)[1] AS lft, string_split(pr, $S)[2] AS rgt,
                |          CAST(freq AS BIGINT) AS freq
                |        FROM p$r ORDER BY freq DESC, pr LIMIT 1),
                |s${r + 1} AS MATERIALIZED (SELECT word, coalesce(replace(st,
                |    $S || (SELECT lft FROM b$r) || $SS || (SELECT rgt FROM b$r) || $S,
                |    $S || (SELECT lft FROM b$r) || (SELECT rgt FROM b$r) || $S), st) AS st, cnt
                |  FROM s$r)""".stripMargin
    }
    sb.toString
  }

  def oracleSql(numMerges: Int): String = {
    val union = (0 until numMerges)
      .map(r => s"SELECT CAST(${r + 1} AS INT) AS rank, lft, rgt, freq FROM b$r")
      .mkString("\n", "\nUNION ALL\n", "\n")
    chainSql(numMerges) +
      s",\nfinal_merges AS ($union)\nSELECT rank, lft, rgt, freq FROM final_merges ORDER BY rank"
  }

  /** DuckDB oracle for [[tokenizedVocab]]: the same unrolled chain; the
    * output is just the FINAL state re-split into symbols. */
  def encodeOracleSql(numMerges: Int): String =
    chainSql(numMerges) +
      s""",
         |toks AS (SELECT word, cnt, string_split(st[2:length(st)-1], $SS) AS sy
         |         FROM s$numMerges)
         |SELECT word, cnt, CAST(len(sy) AS INT) AS n_tokens,
         |       md5(array_to_string(sy, $S)) AS toks_hash
         |FROM toks ORDER BY word""".stripMargin

  /** The final-state word → symbol-sequence CTE (`fs`) shared by the
    * corpus-level oracles. */
  private def finalSymsSql(numMerges: Int): String =
    s"""fs AS MATERIALIZED (SELECT word, string_split(st[2:length(st)-1], $SS) AS sy
       |      FROM s$numMerges WHERE length(word) > 0)""".stripMargin

  /** The per-document word list CTE (`dw`), same split-and-filter as the
    * chain's `w` histogram so every document word has a vocabulary row. */
  private def docWordsSql: String =
    s"""dw AS (SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS wpos
       |      FROM (SELECT doc_id, list_filter(string_split(text, ' '),
       |              x -> x <> '' AND NOT contains(x, $S)) AS ws
       |            FROM documents))""".stripMargin

  /** DuckDB oracle for [[tokenizeDocs]]: the unrolled chain, a vocab CTE
    * ranking symbols by md5 (the portable id order — see tokenizeDocs),
    * per-word id sequences, and per-doc reassembly in word-position
    * order via DuckDB's zipped unnest. */
  def corpusOracleSql(numMerges: Int): String =
    chainSql(numMerges) +
      s""",
         |${finalSymsSql(numMerges)},
         |vocab AS MATERIALIZED (SELECT sym,
         |        CAST(row_number() OVER (ORDER BY md5(sym)) AS INT) AS tok_id
         |      FROM (SELECT DISTINCT unnest(sy) AS sym FROM fs)),
         |wsy AS (SELECT word, unnest(sy) AS sym, unnest(range(len(sy))) AS pos
         |      FROM fs),
         |wmap AS MATERIALIZED (SELECT word, list(tok_id ORDER BY pos) AS ids
         |      FROM wsy JOIN vocab USING (sym) GROUP BY word),
         |$docWordsSql,
         |agg AS (SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS ids
         |      FROM dw JOIN wmap USING (word) GROUP BY doc_id)
         |SELECT doc_id, CAST(len(ids) AS INT) AS n_tokens,
         |       md5(array_to_string(ids, ',')) AS ids_hash
         |FROM agg ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for packing on [[tokenizeDocs]] counts: per-doc BPE
    * token totals fed through the p15 running-sum packing chain. */
  def packOracleSql(numMerges: Int, budget: Int): String =
    chainSql(numMerges) +
      s""",
         |${finalSymsSql(numMerges)},
         |wc AS MATERIALIZED (SELECT word, CAST(len(sy) AS BIGINT) AS ntok FROM fs),
         |$docWordsSql,
         |dt AS (SELECT doc_id, sum(ntok) AS n_toks
         |      FROM dw JOIN wc USING (word) GROUP BY doc_id),
         |t AS (SELECT d.doc_id, d.source, CAST(dt.n_toks AS BIGINT) AS n_tokens
         |      FROM documents d JOIN dt USING (doc_id)),
         |c AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
         |        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |        0) AS before FROM t),
         |l AS (SELECT doc_id, source, n_tokens,
         |        CAST(floor(before / $budget) AS BIGINT) AS local_chunk,
         |        CAST(before % $budget AS BIGINT) AS "offset" FROM c),
         |b AS (SELECT source, max(local_chunk) + 1 AS n_chunks
         |      FROM l GROUP BY source),
         |bb AS (SELECT source, coalesce(sum(n_chunks) OVER (ORDER BY source
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_base
         |      FROM b)
         |SELECT l.doc_id, l.source, l.n_tokens,
         |  CAST(l.local_chunk + bb.chunk_base AS BIGINT) AS chunk_id, l."offset"
         |FROM l JOIN bb USING (source) ORDER BY doc_id""".stripMargin
}
