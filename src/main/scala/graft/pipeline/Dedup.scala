package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Native
import graft.util.Checkpoints

/** Document deduplication operators for large-scale corpus curation:
  * exact (hash groupBy), n-gram Jaccard verify, MinHash+LSH candidate
  * generation, and SimHash. Generalizes the reference's fuzzy-merge idea
  * (MergeUtil.java name-bag matching) from place names to whole documents.
  *
  * Scale notes (100 TB):
  *   - exact dedup shuffles only (id, 16-byte hash), never the text;
  *   - MinHash signatures are computed in one pass per document (no
  *     shuffle of shingles); only (id, band-key) pairs shuffle, and
  *     candidate verification joins back by id;
  *   - Jaccard verification is bounded to LSH/bucket candidates — the
  *     all-pairs form here is for oracle checking at test scale and takes
  *     an explicit bucket column to keep the join co-partitioned.
  *
  * The banded near-duplicate family — MinHash, SimHash, and through
  * [[Multimodal]] the image, audio and video fingerprints — shares three
  * pieces: [[collapse]] (identical keys to one representative),
  * [[repBandCandidates]] (the one band self-join) and [[expandMembers]]
  * (verified representative pairs back to member pairs). Hamming
  * fingerprints are `BIGINT` words ([[hammingPairs]], [[hammingEdges]],
  * [[resolveHamming]]), verified by `bit_count(a ^ b)`.
  */
object Dedup {

  /** Exact duplicate groups by content hash: one row per md5 shared by
    * more than one document — (text_hash, group_size, canonical_id), the
    * canonical member being the smallest id. ONE hash aggregate with
    * fixed-width buffers, so it compiles into its codegen stages; only the
    * md5, the partial count and the partial min shuffle. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), md5(col(textCol)).as("text_hash"))
      .groupBy("text_hash")
      .agg(count(lit(1)).as("group_size"), min("doc_id").as("canonical_id"))
      .where(col("group_size") > 1)

  /** Exact duplicate groups by content hash. Emits one row per member of
    * every group with >1 member: (doc_id, text_hash, canonical_id,
    * group_size). Only the 16-byte md5 and the id ever shuffle. */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("text_hash")
    df.select(col(idCol).as("doc_id"), md5(col(textCol)).as("text_hash"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("canonical_id", min("doc_id").over(w))
      .where(col("group_size") > 1)
  }

  /** Paragraph-level exact dedup (the CCNet/C4 boilerplate pass, Wenzek
    * et al. 2019): split each document into paragraphs, drop every
    * paragraph whose exact content already occurred EARLIER in the corpus
    * ((doc_id, position) order — first occurrence survives), and rebuild
    * each document from its survivors. Returns (doc_id, n_paras, n_kept,
    * clean_hash) with clean_hash = md5 of the rebuilt text (md5("") for a
    * fully-deduplicated document).
    *
    * `paraWords` segments text into fixed-width word windows — the
    * single-line test corpus's stand-in for real paragraph breaks; a
    * production corpus splits on blank lines instead, same dataflow.
    * Scale shape: paragraphs shuffle ONCE by content hash (16-byte md5 +
    * ids — the CCNet shard-by-hash step), survivors shuffle once more by
    * doc to reassemble; no all-pairs anything. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     paraWords: Int): DataFrame = {
    require(paraWords > 0, s"paraWords must be positive: $paraWords")
    val toks = df
      .select(col(idCol).as("doc_id"), TextAnalysis.words(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
      .where(col("n") > 0)
    val paraArr = transform(
      sequence(lit(0), floor((col("n") - 1) / lit(paraWords)).cast("int")),
      i => array_join(slice(col("ws"), i * paraWords + 1, lit(paraWords)), " "))
    val keyed = toks.select(col("doc_id"), posexplode(paraArr))
      .select(col("doc_id"), col("pos"), col("col").as("para"),
        md5(col("col")).as("ph"))
    val w = Window.partitionBy("ph").orderBy("doc_id", "pos")
    val kept = keyed.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
    // paragraph count is ceil(n / paraWords) — derived arithmetically on
    // the one-row-per-doc relation, NOT by re-aggregating the exploded
    // paragraphs (that would re-run the tokenize+md5 lineage and shuffle
    // every paragraph row a second time just to count them)
    val totals = toks.select(col("doc_id"),
      (floor((col("n") - 1) / lit(paraWords)) + 1).as("n_paras"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s.getField("para")), " ").as("clean"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(md5(col("clean")), md5(lit(""))).as("clean_hash"))
  }

  /** [[TextAnalysis.words]] spelled with `array_remove` instead of a
    * `filter` lambda, so the hashing kernels that read it compile into one
    * whole-stage-codegen stage instead of sitting behind an interpreted
    * projection. TextAnalysis keeps the lambda: its signal expressions
    * compiled into their stage measured twice the CPU of the curation
    * funnel. */
  private def codegenWords(text: Column): Column = array_remove(split(text, " "), "")

  /** Distinct n-grams over an ALREADY-MATERIALIZED words array attribute.
    * The words argument must be a plain column reference, not an expression:
    * interpreted higher-order lambdas re-evaluate their subexpressions per
    * element, so an inlined `split(text)` here executes O(words) times per
    * row (measured: 10x the whole join's cost). */
  def ngramsOfWords(words: Column, n: Int): Column =
    if (n == 1) array_distinct(words)
    else
      // guard: sequence(0, negative) counts DOWN in Spark, not empty
      when(size(words) < n, array().cast("array<string>")).otherwise(
        array_distinct(
          transform(sequence(lit(0), size(words) - n),
            i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j + 1)): _*))))

  /** Distinct word n-grams of a text column as an array column. Only safe
    * for one-shot/narrow use — hot paths should materialize the words array
    * first (see ngramsOfWords). */
  def wordNgrams(text: Column, n: Int): Column =
    ngramsOfWords(filter(split(text, " "), w => w =!= ""), n)

  /** Jaccard similarity of two (already distinct) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** All-pairs n-gram Jaccard within a blocking bucket via EXACT prefix
    * filtering (Bayardo et al. AllPairs / PPJoin family): under any fixed
    * global order of grams — ascending 64-bit hash here — J(A,B) >= t
    * implies the first |A|-ceil(t*|A|)+1 grams of A and the first
    * |B|-ceil(t*|B|)+1 grams of B share an element. Candidates are pairs
    * co-occurring under a prefix gram (plus the exact size-ratio bound
    * max <= min/t); only candidates are verified. No false negatives.
    *
    * Scale note: this replaces a within-bucket quadratic join with one
    * keyed by (bucket, prefix-gram) — candidate volume tracks actual gram
    * sharing, not bucket size. Prefixes are RAREST-FIRST (the canonical
    * AllPairs/PPJoin ordering): the global gram order for the prefix slice
    * is (ascending corpus frequency, hash tiebreak), so prefix grams are
    * the least-shared ones and candidate volume stays bounded under
    * skewed vocabularies — a stop-word-heavy corpus would otherwise put
    * the same ubiquitous gram in millions of prefixes. The VERIFY arrays
    * stay hash-sorted (the merge-walk kernel needs value order); PPJoin's
    * exactness only needs the prefix order to be some fixed global order,
    * independent of the verify order. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        bucketCol: String, n: Int, minSim: Double): DataFrame = {
    // sorted grams → the pair similarity is a codegen'd merge walk
    // (graft.functions.SortedIntersectSize) — no per-pair Scala conversion
    // Two explicit exchanges, both load-bearing:
    //  1. spread raw rows BEFORE the per-row tokenize/corpus expressions —
    //     otherwise they run at the scan's parallelism (often 1-2 tasks for
    //     small parquet inputs) while every other core idles;
    //  2. a barrier between the words projection and the n-gram lambda —
    //     without it CollapseProject inlines `words` into every element_at
    //     and split() re-executes per gram.
    // Explicit partition counts keep AQE from coalescing these byte-wise
    // tiny but CPU-heavy shuffles to one partition.
    val par = df.sparkSession.sparkContext.defaultParallelism
    // cache: g feeds the candidate prefixes and both verify joins — without
    // it the shingling of the whole corpus is recomputed per consumer.
    // Grams shuffle and compare as 64-bit hashes, not strings: the merge
    // walk is the hot loop and long compares are ~10x cheaper; distinct-gram
    // counts (and so Jaccard) are unchanged w.h.p. (64-bit collisions
    // within one document pair).
    // one native kernel instead of array_sort(transform(ngrams, xxhash64)):
    // no gram strings, no interpreted per-element lambdas (PPJoin's
    // exactness only needs SOME fixed global gram order — sorted 64-bit
    // combine-hashes serve as well as sorted string-hashes, and Jaccard
    // depends only on distinct-gram identities)
    val g0 = df.repartition(par)
      .select(col(idCol).as("id"), col(bucketCol).as("bucket"),
        filter(split(col(textCol), " "), w => w =!= "").as("words"))
      .repartition(par, col("id"))
      .select(col("id"), col("bucket"),
        Native("ngram_hashes", col("words"), lit(n)).as("grams"))
      .withColumn("sz", size(col("grams")))
      .cache()
    // Materialize the shingle cache BEFORE fan-out: the prefix leg, the
    // heavy-hitter legs, and both verify-join legs otherwise submit
    // concurrently and each re-shingles the corpus before any partition
    // lands in cache (the lazy-cache stampede). Round 4 measured the
    // eager count as +0.9 s on an idle host and kept laziness; with the
    // heavy-hitter reorder there are now five consumers instead of three
    // and the host is demonstrably time-shared, so the serial pass is the
    // cheaper side of the trade at every realistic deployment.
    g0.count()
    // the sz guard sits ABOVE the cache barrier: pushed into the scan it
    // would inline the whole interpreted shingling pipeline into the
    // single-file parquet scan task and run it serially (measured 18s of a
    // 26s job at sf0.1)
    val g = g0.where(col("sz") > 0)
    // rarest-first reorder via HEAVY HITTERS only. The PPJoin prefix
    // filter needs SOME consistent total gram order that pushes frequent
    // grams out of prefixes — it does not need every gram's exact rank
    // (exactness lives in the verify step). Order: non-heavy grams first
    // in hash order, then heavy grams ascending by (f, gram). That keeps
    // the selectivity win (prefixes avoid hot join keys) while replacing
    // the previous vocabulary-wide join-back + full collect_list re-sort
    // with:
    //  - one broadcast of the heavy table, bounded BY CONSTRUCTION:
    //    f0 > total/cap means |{gram : f >= f0}| <= cap (~1M) no matter
    //    the corpus size, and the 64 floor keeps tiny corpora from
    //    declaring everything heavy;
    //  - a doc-id co-partitioned join of per-doc heavy lists — only heavy
    //    OCCURRENCES shuffle (the Zipf head), never the whole gram stream.
    val cap = 1L << 20
    val freq = g.select(explode(col("grams")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("f"))
    val tot = g.agg(sum(col("sz").cast("long")).as("tot"))
    val heavy = freq.crossJoin(broadcast(tot))
      .where(col("f") >= greatest(lit(64L), (col("tot") / lit(cap)) + lit(1L)))
      .select(col("gram"), col("f"))
    val docHeavy = g.select(col("id"), explode(col("grams")).as("gram"))
      .join(broadcast(heavy), "gram")
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("f"), col("gram")))),
        x => x.getField("gram")).as("hv"))
    // array_except keeps the left array's (hash-sorted) order, so the
    // concatenation is the global (non-heavy by hash, heavy by rank) order
    val byFreq = g.join(docHeavy, Seq("id"), "left")
      .select(col("id"), col("bucket"), col("sz"),
        when(col("hv").isNull, col("grams"))
          .otherwise(concat(array_except(col("grams"), col("hv")), col("hv")))
          .as("fgrams"))
    // prefix length sz - floor(t*sz - eps) + 1 >= sz - ceil(t*sz) + 1: at
    // most one gram longer than the tight bound, immune to float edges on
    // either side of an integer t*sz
    val prefLen = (col("sz") - floor(col("sz").cast("double") * lit(minSim) - lit(1e-9)) + 1)
      .cast("int")
    // explicit partition count on the self-join key: the pref relation is
    // byte-wise tiny (ids + hashes), so AQE coalesces its exchange to 1-2
    // partitions — but the join OUTPUT fans out ~10x (shared prefix grams),
    // so those 1-2 tasks serialize the candidate enumeration. A fixed-N
    // repartition is exempt from AQE coalescing and is reused by both
    // sides of the self-join (one exchange, co-partitioned).
    val pref = byFreq.select(col("id"), col("bucket"), col("sz"),
      posexplode(slice(col("fgrams"), lit(1), prefLen)))
      .toDF("id", "bucket", "sz", "pos", "gram")
      .repartition(par, col("bucket"), col("gram"))
      // persisted: exchange reuse SHOULD make the self-join read this
      // exchange once, but the runtime stage profile shows both legs
      // re-running the heavy-hitter reorder + explode under AQE; the
      // narrow (ids + one hash) relation is cheap to pin (freed by the
      // runners' per-query cache clear)
      .persist()
    // positional filter (PPJoin): a shared gram at 0-based sorted positions
    // (i, j) bounds the overlap by min(i,j) + 1 + min(|A|-i-1, |B|-j-1)
    // (shared grams sort strictly before/after it on both sides); J >= t
    // needs overlap >= t/(1+t) * (|A|+|B|). Still exact — an occurrence
    // below the bound can never witness a qualifying pair, and a
    // qualifying pair's shared prefix grams all qualify.
    val alpha = (col("a.sz") + col("b.sz")).cast("double") *
      lit(minSim / (1 + minSim)) - lit(1e-9)
    val overlapBound = least(col("a.pos"), col("b.pos")) + 1 +
      least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.gram") === col("b.gram") &&
          col("a.id") < col("b.id") &&
          greatest(col("a.sz"), col("b.sz")).cast("double") <=
            least(col("a.sz"), col("b.sz")) / lit(minSim) + lit(1e-6) &&
          overlapBound.cast("double") >= alpha)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    val pairs = cand
      .join(g.select(col("id").as("a_id"), col("grams").as("a_grams"),
        col("sz").as("a_sz")), "a_id")
      .join(g.select(col("id").as("b_id"), col("grams").as("b_grams"),
        col("sz").as("b_sz")), "b_id")
      .withColumn("inter",
        Native("sorted_intersect_size", col("a_grams"), col("b_grams")).cast("double"))
      .select(col("a_id"), col("b_id"),
        round(col("inter") / (col("a_sz") + col("b_sz") - col("inter")), 6)
          .as("jaccard"))
      .where(col("jaccard") >= minSim)
      // eager materialization of the (narrow) pair list so the working set
      // can be freed here instead of accumulating in the session cache
      // across invocations (the Multimodal convention)
      .localCheckpoint(true)
    pref.unpersist()
    g0.unpersist()
    pairs
  }

  /** Incremental (cross-snapshot) dedup — the production shape for a
    * continuously-crawled corpus: flag each NEW document that duplicates
    * the EXISTING corpus, exactly (byte-identical text) or nearly
    * (verified n-gram Jaccard ≥ t via MinHash banding), WITHOUT ever
    * pairing the old corpus against itself. Self-join dedup (p1/p3) is
    * O(corpus²) work per crawl; this is O(new × collisions) — the old
    * side contributes one md5 projection and one band-key index, both
    * reusable artifacts a real deployment would persist between crawls.
    *
    * Returns every new row with `exact_src` (smallest old id with
    * identical text, null if none) and `near_src`/`near_jaccard` (the
    * best-Jaccard old match at ≥ minSim, ties to the smallest old id,
    * nulls if none). Banding, hashing, and verification reuse the
    * [[minhashLshPairs]] machinery (portable [[PortableHash]] signatures,
    * native [[graft.functions.MinhashBandKeys]]/[[graft.functions.NgramHashes]]
    * kernels, codegen'd merge-walk verify), so an external oracle
    * reproduces every flag and score bit-for-bit.
    *
    * Scale shape (100 TB old + daily new): only (id, band-key) and
    * (id, md5) pairs shuffle for candidate generation; gram arrays join
    * back only for the candidate set. Neither corpus text ever shuffles.
    */
  def incrementalDedup(newDf: DataFrame, oldDf: DataFrame, idCol: String,
                       textCol: String, n: Int, numHashes: Int, bandRows: Int,
                       minSim: Double): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must divide into bands")
    import org.apache.spark.sql.expressions.Window
    val par = newDf.sparkSession.sparkContext.defaultParallelism
    // same two load-bearing exchanges + eager cache as minhashLshPairs
    def prep(df: DataFrame): DataFrame = {
      val g = df.repartition(par)
        .select(col(idCol).as("id"), md5(col(textCol)).as("h"),
          filter(split(col(textCol), " "), w => w =!= "").as("words"))
        .repartition(par, col("id"))
        .select(col("id"), col("h"),
          Native("ngram_hashes", col("words"), lit(n)).as("grams"),
          Native("minhash_band_keys", col("words"),
            lit(n), lit(numHashes), lit(bandRows)).as("bands"))
        .withColumn("sz", size(col("grams")))
        .cache()
      g.count()
      g
    }
    val nw = prep(newDf)
    val od = prep(oldDf)

    val exact = nw.select(col("id"), col("h"))
      .join(od.select(col("h"), col("id").as("o_id")), Seq("h"))
      .groupBy("id").agg(min(col("o_id")).as("exact_src"))

    val nb = nw.where(col("sz") > 0)
      .select(col("id"), explode(col("bands")).as("band_key"))
    val ob = od.where(col("sz") > 0)
      .select(col("id").as("o_id"), explode(col("bands")).as("band_key"))
    val cand = nb.join(ob, "band_key").select("id", "o_id").distinct()
    val near = cand
      .join(nw.select(col("id"), col("grams").as("a_grams"),
        col("sz").as("a_sz")), "id")
      .join(od.select(col("id").as("o_id"), col("grams").as("b_grams"),
        col("sz").as("b_sz")), "o_id")
      .withColumn("inter",
        Native("sorted_intersect_size", col("a_grams"), col("b_grams")).cast("double"))
      .withColumn("jaccard",
        round(col("inter") / (col("a_sz") + col("b_sz") - col("inter")), 6))
      .where(col("jaccard") >= minSim)
    val best = near
      .withColumn("rn", row_number().over(Window.partitionBy("id")
        .orderBy(col("jaccard").desc, col("o_id"))))
      .where(col("rn") === 1)
      .select(col("id"), col("o_id").as("near_src"),
        col("jaccard").as("near_jaccard"))

    newDf.select(col(idCol).as("id"))
      .join(exact, Seq("id"), "left")
      .join(best, Seq("id"), "left")
      .select(col("id").as(idCol), col("exact_src"),
        col("near_src"), col("near_jaccard"))
  }

  /** Exact n-gram CONTAINMENT join — quote/excerpt detection, the
    * asymmetric near-dup case symmetric Jaccard blocking structurally
    * misses: a 20-word quote inside a 2000-word article has Jaccard
    * ≈ 0.01 but containment 1.0. Containment(q in c) =
    * |grams(q) ∩ grams(c)| / |grams(q)|.
    *
    * Exact prefix blocking by pigeonhole: if containment ≥ t then at most
    * ⌊(1−t)·|q|⌋ of q's grams are missing from c, so among the first
    * ⌊(1−t)·|q|⌋+1 grams of q (in the fixed hash-sorted order) at least
    * one appears in c — candidates are (query-prefix gram) ⋈ (corpus
    * inverted index), complete by construction. Two further exact prunes
    * ride the join: |c| ≥ t·|q| (c must hold the overlap), and the PPJoin
    * positional bound min(i,j)+1+min(|q|−i−1, |c|−j−1) ≥ t·|q| (shared
    * grams sort consistently on both sides).
    *
    * Scale shape (100 TB): the query side is the small one (quotes, eval
    * probes, suspected excerpts) — only its prefixes explode; the corpus
    * side contributes one inverted-index shuffle keyed by gram (the same
    * cost as the gram-frequency pass every set-similarity operator pays).
    * Verification re-joins the bounded candidate set against the cached
    * per-doc sorted hash arrays and runs the codegen'd merge walk
    * ([[graft.functions.SortedIntersectSize]]). On an adversarially
    * Zipf-skewed corpus, compose with [[ngramJaccardPairs]]'s
    * rarest-first heavy-hitter reorder so hot grams leave the prefixes;
    * the plain hash order is the right default everywhere else.
    */
  def containmentJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
                      textCol: String, n: Int, minCont: Double): DataFrame = {
    require(minCont > 0 && minCont <= 1, s"minCont=$minCont")
    val par = queries.sparkSession.sparkContext.defaultParallelism
    def shingle(df: DataFrame): DataFrame = df
      .repartition(par)
      .select(col(idCol).as("id"),
        filter(split(col(textCol), " "), w => w =!= "").as("words"))
      .select(col("id"),
        Native("ngram_hashes", col("words"), lit(n)).as("grams"))
      .withColumn("sz", size(col("grams")))
      .where(col("sz") > 0)
    val q = shingle(queries).persist()
    val c = shingle(corpus).persist()

    // prefix ⌊(1−t)·sz⌋+1, clamped into [1, sz]
    val prefLen = least(
      (floor(col("sz").cast("double") * lit(1 - minCont) + lit(1e-9)) + 1)
        .cast("int"), col("sz"))
    val qpref = q.select(col("id").as("q_id"), col("sz").as("q_sz"),
        posexplode(slice(col("grams"), lit(1), prefLen)))
      .toDF("q_id", "q_sz", "q_pos", "gram")
    val cindex = c.select(col("id").as("c_id"), col("sz").as("c_sz"),
        posexplode(col("grams")))
      .toDF("c_id", "c_sz", "c_pos", "gram")
      .repartition(par, col("gram"))
    val needed = col("q_sz").cast("double") * lit(minCont) - lit(1e-9)
    val posBound = least(col("q_pos"), col("c_pos")) + 1 +
      least(col("q_sz") - col("q_pos") - 1, col("c_sz") - col("c_pos") - 1)
    val cand = qpref.join(cindex,
        qpref("gram") === cindex("gram") && col("q_id") =!= col("c_id") &&
          col("c_sz").cast("double") >= needed &&
          posBound.cast("double") >= needed)
      .select(col("q_id"), col("c_id")).distinct()

    cand
      .join(q.select(col("id").as("q_id"), col("grams").as("q_grams"),
        col("sz").as("q_sz")), "q_id")
      .join(c.select(col("id").as("c_id"), col("grams").as("c_grams")), "c_id")
      .withColumn("inter",
        Native("sorted_intersect_size", col("q_grams"), col("c_grams")).cast("double"))
      .select(col("q_id"), col("c_id"),
        round(col("inter") / col("q_sz"), 6).as("containment"))
      .where(col("containment") >= minCont)
  }

  /** MinHash+LSH near-duplicate pairs, verified with exact n-gram Jaccard.
    * numHashes must be divisible by bandRows. Pipeline:
    * shingle → signature (map-only) → exact-equal [[collapse]] → band
    * explode → [[repBandCandidates]] → distinct candidate pairs → Jaccard
    * verify against the representatives' shingle sets →
    * [[expandMembers]]. Only (id, band_key) and (id,
    * grams-of-candidates) shuffle. Hashing is [[PortableHash]]
    * (mod-1e9+7 integer math), so the DuckDB oracle reproduces
    * signatures and band keys exactly. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int, numHashes: Int, bandRows: Int,
                      minSim: Double): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must divide into bands")
    // exact-equal collapse BEFORE banding: documents with identical
    // distinct-gram sets band once through a representative. Jaccard
    // depends only on the gram set, so every member pair inherits its
    // representatives' verified similarity EXACTLY, and same-set pairs
    // are Jaccard 1 by definition — the expanded pair list is
    // bit-identical to the uncollapsed one.
    //
    // Materialized before fan-out: the two band legs of the candidate
    // self-join and both verify joins read it. A local checkpoint, not a
    // cache: the pair plan below scans one LogicalRDD per leg instead of
    // re-planning (and re-printing, on every AQE update) the collapse's
    // full cached plan at each of the four references.
    val reps = minhashReps(df, idCol, textCol, n, numHashes, bandRows)
      .localCheckpoint(true)
    // both verify sides must plan alike for the second to reuse the
    // first's broadcast: state the non-empty-members filter the explode
    // below would otherwise infer for side a only
    def side(p: String) = reps.where(size(col("members")) > 0)
      .select(col("id").as(s"${p}_id"),
        col("hgrams").as(s"${p}_grams"), col("sz").as(s"${p}_sz"),
        col("members").as(s"${p}_members"))
    val repPairs = repBandCandidates(reps)
      .join(side("a"), "a_id")
      .join(side("b"), "b_id")
      .withColumn("inter",
        Native("sorted_intersect_size", col("a_grams"), col("b_grams")).cast("double"))
      .select((col("a_id") === col("b_id")).as("self"), col("a_members"),
        col("b_members"),
        round(col("inter") / (col("a_sz") + col("b_sz") - col("inter")), 6)
          .as("jaccard"))
      .where(col("jaccard") >= minSim)
    // eager materialization of the (narrow) pair list so the collapse can
    // be freed here instead of accumulating across invocations
    val pairs = expandMembers(repPairs, col("jaccard")).localCheckpoint(true)
    Checkpoints.free(reps)
    pairs
  }

  /** Per-document MinHash inputs (id, hgrams, bands, sz) of
    * [[minhashLshPairs]]. Both per-document arrays come from native kernels
    * over the words array — no gram string is ever materialized, no
    * interpreted UDF or lambda, so the whole projection is one
    * whole-stage-codegen stage: band keys from minhash_band_keys
    * (bit-identical to the former string-gram + ScalaUDF path, reproduced
    * by the DuckDB oracle), verify intersections on ngram_hashes' sorted
    * 64-bit hashes (codegen'd merge walk; distinct counts unchanged
    * w.h.p. — same trade as ngramJaccardPairs). */
  private def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                                n: Int, numHashes: Int,
                                bandRows: Int): DataFrame = {
    // spread raw rows BEFORE the per-row kernels (see ngramJaccardPairs);
    // no id-keyed barrier after the words projection: both kernels read
    // `words`, so CollapseProject keeps it one projection, and the
    // collapse's groupBy exchange follows anyway
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(par)
      .select(col(idCol).as("id"), codegenWords(col(textCol)).as("words"))
      .select(col("id"),
        Native("ngram_hashes", col("words"), lit(n)).as("hgrams"),
        Native("minhash_band_keys", col("words"),
          lit(n), lit(numHashes), lit(bandRows)).as("bands"))
      .withColumn("sz", size(col("hgrams")))
  }

  /** The exact-equal collapse of the near-duplicate family: ONE `groupBy`
    * on `keys` emits each distinct key tuple's member ids, ascending, with
    * the smallest as its representative — (id, keys…, members), the
    * representative named `id`. The aggregate holds only
    * `collect_list(id)`, which keeps Spark's object aggregate to its
    * fewest generated classes; anything else a caller needs per
    * representative must be a function of the keys and group along.
    *
    * Skew: a hot identical group's ids land in one array built by one
    * task; only its representative row ever reaches a band join, so an
    * m-member cluster costs O(m) there instead of m²/2 candidates. */
  private[graft] def collapse(df: DataFrame, id: String, keys: Column*): DataFrame = {
    val groups = df.groupBy(keys: _*)
      .agg(sort_array(collect_list(col(id))).as("members"))
    groups.select(element_at(col("members"), 1).as(id) +: groups.columns.toSeq.map(col): _*)
  }

  /** Member expansion of verified representative pairs, without joins.
    * `repPairs` carries `self` (a representative paired with itself),
    * `a_members`, `b_members` and whatever `out` reads; `out` may also
    * read the member ids `ma` and `mb`. A cross pair explodes into its
    * a-members × b-members (least/greatest restores a_id < b_id — the
    * member sets are disjoint), a self pair into the i < j slices of its
    * ascending member array. Returns (a_id, b_id, out…). */
  private[graft] def expandMembers(repPairs: DataFrame, out: Column*): DataFrame = {
    val carried = repPairs.columns.toSeq
      .filterNot(Set("self", "a_members", "b_members")).map(col)
    repPairs
      .select(Seq(col("self"), posexplode(col("a_members")).as(Seq("i", "ma")),
        col("b_members")) ++ carried: _*)
      .select(Seq(col("ma"),
        explode(when(col("self"), slice(col("b_members"), col("i") + 2,
          size(col("b_members")) - col("i") - 1)).otherwise(col("b_members")))
          .as("mb")) ++ carried: _*)
      .select(Seq(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id")) ++ out: _*)
  }

  /** The rep-level band self-join of the near-duplicate family: (a_id,
    * b_id) pairs of representatives sharing at least one key of their
    * `bands` array, a_id < b_id, plus (r, r) for every representative with
    * more than one member, so that group's own pairs ride the same verify
    * and [[expandMembers]]. A band key may be any equi-joinable value.
    * Each `carry` column c of `reps` rides along as a_c and b_c, so a
    * verify that needs only per-representative values joins nothing
    * back. */
  private[graft] def repBandCandidates(reps: DataFrame, carry: String*): DataFrame = {
    val banded = reps.select(Seq(col("id"), explode(col("bands")).as("band_key"),
      (size(col("members")) > 1).as("multi")) ++ carry.map(col): _*)
    banded.as("a").join(banded.as("b"), col("a.band_key") === col("b.band_key") &&
        (col("a.id") < col("b.id") || (col("a.id") === col("b.id") && col("a.multi"))))
      .select(Seq(col("a.id").as("a_id"), col("b.id").as("b_id")) ++
        carry.flatMap(c => Seq(col(s"a.$c").as(s"a_$c"), col(s"b.$c").as(s"b_$c"))): _*)
      .distinct()
  }

  /** [[minhashLshPairs]]' collapse: one representative row (id, hgrams,
    * bands, sz, members) per DISTINCT non-empty gram set in `df`, plus one
    * singleton row per gram-less document. Band keys are a function of
    * the gram set, so they group along with it.
    *
    * Gram-less documents group by their own id (`lone`) and stay
    * singleton rows with `sz` 0: they have no band keys and no co-members,
    * so they never pair. They are not filtered out, because a predicate
    * on the grouping keys would be pushed below the aggregate and through
    * the repartition into the parquet scan, running the shingling kernel
    * there, serially (measured 14 s of p3's 21 s at sf0.1). */
  private[graft] def minhashReps(df: DataFrame, idCol: String,
                                 textCol: String, n: Int, numHashes: Int,
                                 bandRows: Int): DataFrame =
    collapse(minhashSignatures(df, idCol, textCol, n, numHashes, bandRows),
        "id", col("hgrams"), col("bands"),
        when(col("sz") > 0, lit(null)).otherwise(col("id")).as("lone"))
      .select(col("id"), col("hgrams"), col("bands"),
        size(col("hgrams")).as("sz"), col("members"))

  /** The 4 band keys of an `nBits`-bit fingerprint word: band b holds bits
    * [b·w, (b+1)·w), w = nBits/4, cut with an unsigned shift, and b is
    * folded in above them so equal values of different bands never meet.
    * Pigeonhole: ≤ 3 flipped bits leave ≥ 1 of the 4 bands intact. */
  private[graft] def hammingBandKeys(fp: Column, nBits: Int): Seq[Column] = {
    require(nBits > 0 && nBits <= 64 && nBits % 4 == 0, s"nBits=$nBits")
    val w = nBits / 4
    (0 until 4).map(b => shiftrightunsigned(fp, b * w)
      .bitwiseAND(lit((1L << w) - 1)).bitwiseOR(lit(b.toLong << w)))
  }

  /** Representatives of the DISTINCT fingerprints among (id, fp BIGINT)
    * rows — (id, fp, members, bands), the [[collapse]] plus the
    * [[hammingBandKeys]] — so an m-item cluster of identical fingerprints
    * occupies each band bucket once. */
  private[graft] def hammingReps(fps: DataFrame, nBits: Int): DataFrame =
    collapse(fps, "id", col("fp"))
      .withColumn("bands", array(hammingBandKeys(col("fp"), nBits): _*))

  /** [[hammingReps]] pairs from [[repBandCandidates]], verified by
    * `bit_count(a ^ b)` on the words: (self, a_members, b_members,
    * hamming) at distance ≤ maxDist. Recall is guaranteed for
    * maxDist ≤ 3 (4 bands). */
  private def hammingRepPairs(reps: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4-band blocking guarantees recall only for dist<=3")
    repBandCandidates(reps, "fp", "members")
      .select((col("a_id") === col("b_id")).as("self"), col("a_members"),
        col("b_members"), bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** Banded-Hamming near-duplicate pairs over (id, fp) rows whose `fp`
    * is an `nBits`-bit word: every pair at distance ≤ maxDist, as
    * (a_id, b_id, hamming) with a_id < b_id. Never all-pairs: only
    * representatives' (id, band key) rows join, and identical
    * fingerprints pair through [[expandMembers]]. Lazy, and holds no
    * storage. */
  private[graft] def hammingPairs(fps: DataFrame, nBits: Int,
                                  maxDist: Int): DataFrame =
    expandMembers(hammingRepPairs(hammingReps(fps, nBits), maxDist), col("hamming"))

  /** Spanning edges (a_id, b_id) of the near-duplicate graph over
    * [[hammingReps]]: verified representative pairs plus star edges
    * representative → member inside each identical group (O(m) for an
    * m-item cluster, never its m²/2 clique). Components over these edges
    * equal components over the full pair list: members connect through
    * their representative, and any cross-group member pair has exactly
    * its representatives' distance. */
  private[graft] def hammingEdges(reps: DataFrame, maxDist: Int): DataFrame =
    hammingRepPairs(reps, maxDist)
      .select(element_at(col("a_members"), 1).as("a_id"),
        explode(when(col("self"),
            slice(col("a_members"), lit(2), size(col("a_members")) - 1))
          .otherwise(slice(col("b_members"), 1, 1))).as("b_id"))

  /** Keep-verdict (doc_id, cluster_id, keep) for every (id, fp) row:
    * [[hammingEdges]] composed with [[resolveByComponents]]. Eagerly
    * materialized; the collapse and the component labels are freed
    * before returning. */
  private[graft] def resolveHamming(fps: DataFrame, nBits: Int,
                                    maxDist: Int): DataFrame = {
    val reps = hammingReps(fps, nBits).localCheckpoint(true)
    val verdict = resolveByComponents(
      reps.select(explode(col("members")).as("doc_id")), "doc_id",
      hammingEdges(reps, maxDist))
    val out = verdict.localCheckpoint(true)
    Checkpoints.free(verdict)
    out
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist, through
    * [[hammingPairs]]: 4 bands of 15 bits over the 60-bit
    * [[PortableHash.simhash60]] signature, reproducible by the DuckDB
    * oracle, with identical signatures collapsed before banding. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int): DataFrame =
    hammingPairs(simhashes(df, idCol, textCol), nBits = 60, maxDist)

  /** (id, fp) rows of 60-bit SimHash signatures over space-split words. */
  private[graft] def simhashes(df: DataFrame, idCol: String,
                               textCol: String): DataFrame = {
    val shUdf = udf((text: String) =>
      PortableHash.simhash60(text.split(" ").filter(_.nonEmpty).toSeq))
    df.select(col(idCol).as("id"), shUdf(col(textCol)).as("fp"))
  }

  /** Duplicated-span scrub (the RefinedWeb/C4 "remove repeated lines"
    * rule, formulated over fixed-width word spans because the corpus has
    * no line structure): chop every document into consecutive
    * `spanWords`-word spans, count in how many distinct documents each
    * span occurs corpus-wide, and drop every span seen in more than one
    * document. Emits per doc: span count, dropped count, and the md5 of
    * the scrubbed text (spans rejoined in document order).
    *
    * Scale: span TEXT never keys a shuffle — only (doc_id, span_idx,
    * 64-bit span hash) rows reach the frequency aggregation and the
    * duplicate semi-join, and the scrubbed text is rebuilt from each
    * doc's own spans array (one row per doc, partitioned by doc_id from
    * the start) by joining back just the small per-doc dropped-index
    * list. No corpus-wide broadcast: the earlier formulation broadcast
    * EVERY distinct span hash to the rebuild join — unboundable at
    * 100 TB — where the dropped-index side here is bounded by the
    * duplicated subset. Span identity is the 64-bit xxhash64, exact
    * w.h.p. (a collision needs two distinct spans with equal hashes in
    * the same corpus — same trade as ngramJaccardPairs' gram hashes).
    * Intra-document repeats are NOT dropped (n_docs counts distinct docs)
    * — that's the reference rule's semantics, not an accident. */
  def spanScrub(df: DataFrame, idCol: String, textCol: String,
                spanWords: Int): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // same two load-bearing exchanges as ngramJaccardPairs: spread the
    // per-row lambdas off the tiny scan, then a barrier so CollapseProject
    // can't inline `words` into every slice()
    // cache: d (one row per doc) feeds the hash stream and the rebuild —
    // cheaper to hold than the exploded per-span rows, and the rebuild
    // reuses its doc_id partitioning (no second text shuffle)
    val d = df.repartition(par)
      .select(col(idCol).as("doc_id"),
        filter(split(col(textCol), " "), w => w =!= "").as("words"))
      .repartition(par, col("doc_id"))
      .select(col("doc_id"),
        when(size(col("words")) < 1, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0), ((size(col("words")) - 1) / lit(spanWords)).cast("int")),
            i => array_join(slice(col("words"), i * spanWords + 1, lit(spanWords)), " ")))
          .as("spans"))
      .cache()
    // hashes-only from here to the dropped-index list
    val spanHashes = d.select(col("doc_id"), posexplode(col("spans")))
      .toDF("doc_id", "span_idx", "span")
      .select(col("doc_id"), col("span_idx"), xxhash64(col("span")).as("span_hash"))
    val dupHashes = spanHashes.groupBy("span_hash")
      .agg(countDistinct("doc_id").as("n_docs"))
      .where(col("n_docs") > 1)
      .select("span_hash")
    // ≤ one row per doc that HAS duplicated spans; the sorted index array
    // is bounded by document length
    val dropped = spanHashes.join(dupHashes, Seq("span_hash"), "left_semi")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("span_idx"))).as("dropped_idx"))
    // rebuild map-side per doc: d is already hash-partitioned by doc_id, so
    // only the small dropped table moves; zero-span docs drop out (the
    // rule's domain is docs with at least one span)
    d.join(dropped, Seq("doc_id"), "left")
      .where(size(col("spans")) > 0)
      .select(col("doc_id"),
        size(col("spans")).as("n_spans"),
        coalesce(size(col("dropped_idx")), lit(0)).as("n_dropped"),
        md5(array_join(filter(col("spans"),
          (_, i) => !array_contains(
            coalesce(col("dropped_idx"), array().cast("array<int>")), i)), " "))
          .as("clean_hash"))
  }

  /** Content-keyed anchor positions + grams over a (doc_id, text)
    * relation — the shared front end of [[exactSubstrSpans]] and
    * [[substrContamination]]. O(n) rolling-hash selection; gram strings
    * extracted only AT anchors (~n/stride of positions). Because the
    * anchor rule depends only on CONTENT, two copies of a duplicated
    * substring anchor at the same content-relative positions even across
    * relations. */
  private def contentAnchors(d: DataFrame, k: Int, stride: Int): DataFrame = {
    val par = d.sparkSession.sparkContext.defaultParallelism
    d.where(length(col("text")) >= k)
      .repartition(par)
      .select(col("doc_id"), col("text"),
        explode(Native("rolling_anchors", col("text"), lit(k),
          lit(stride))).as("pos"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, pos + 1, $k)").as("gram"))
  }

  /** Greedy both-direction extension of witness anchors against their
    * canonical occurrence, then per-doc maximal-island merge — the shared
    * back end of [[exactSubstrSpans]] and [[substrContamination]].
    * `pairs` carries (b_id, b_pos, a_pos, atext, btext); returns one row
    * per island (doc_id, span_start, span_len), offsets in code points.
    * Extension is row-local in CODE POINTS (matching Spark length/substr
    * and DuckDB length/substr — Java charAt would count UTF-16 units and
    * diverge beyond the BMP). */
  private def extendMergeIslands(pairs: DataFrame, k: Int,
                                 maxExt: Int): DataFrame = {
    val ext = udf((aText: String, aPos: Int, bText: String, bPos: Int) => {
      val ac = aText.codePoints().toArray
      val bc = bText.codePoints().toArray
      var el = 0
      while (el < maxExt && aPos - el - 1 >= 0 && bPos - el - 1 >= 0 &&
        ac(aPos - el - 1) == bc(bPos - el - 1)) el += 1
      var er = 0
      while (er < maxExt && aPos + k + er < ac.length &&
        bPos + k + er < bc.length &&
        ac(aPos + k + er) == bc(bPos + k + er)) er += 1
      (el, er)
    })
    val spans = pairs
      .withColumn("e", ext(col("atext"), col("a_pos"),
        col("btext"), col("b_pos")))
      .select(col("b_id").as("doc_id"),
        (col("b_pos") - col("e._1")).as("start"),
        (col("b_pos") + lit(k) + col("e._2")).as("endp"))
    // maximal-island merge: a span starts a new island iff it begins
    // strictly after every earlier span's end (touching spans are one
    // contiguous duplicated region). Equal-start ties are order-immune:
    // the later row's start can never exceed the earlier's end (≥ start+k)
    val iw = Window.partitionBy("doc_id").orderBy("start", "endp")
    spans
      .withColumn("prev_max",
        max("endp").over(iw.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nw",
        when(col("prev_max").isNull || col("start") > col("prev_max"), 1)
          .otherwise(0))
      .withColumn("island", sum("nw").over(iw))
      .groupBy("doc_id", "island")
      .agg(min("start").as("span_start"), max("endp").as("span_end"))
      .select(col("doc_id"), col("span_start").cast("int").as("span_start"),
        (col("span_end") - col("span_start")).cast("int").as("span_len"))
  }

  /** Exact duplicated-substring detection at ARBITRARY character offsets
    * — the operator [[spanScrub]]'s fixed word spans approximate. The
    * published standard is the suffix-array ExactSubstr dedup of Lee et
    * al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better"); a distributed suffix array is out of scope, so this is the
    * bounded-shuffle anchor-and-extend approximation with an explicit
    * contract:
    *
    *   - ANCHORS: every k-code-point gram whose poly31 rolling hash
    *     ([[graft.functions.RollingAnchors]], a native O(n) codegen
    *     expression — no gram string is materialized off-anchor) is
    *     ≡ 0 mod `stride`. The anchor choice depends only on CONTENT,
    *     so two copies of a duplicated substring anchor at the same
    *     content-relative positions: any duplicated run of ≥ k +
    *     stride·16 code points contains a shared anchor with probability
    *     ≈ 1 − (1−1/stride)^16 per 16-gram window (misses shrink
    *     geometrically; stride=1 is exact for runs ≥ k).
    *   - KEEP-FIRST per anchor gram: occurrence 1 in (doc_id, pos) order
    *     is canonical; occurrences 2..`bucketCap` become witnesses (a
    *     gram seen in > bucketCap places contributes bucketCap−1
    *     witnesses — heavier truncation only for pathologically common
    *     grams, the documented occupancy bound that keeps bucket work
    *     linear).
    *   - EXTEND-AND-VERIFY: each witness extends against its canonical,
    *     greedy both directions, capped at `maxExt` code points per side
    *     (longer duplicated runs are still fully covered — their interior
    *     anchors extend too and the spans union).
    *   - Overlapping witness spans per doc merge into maximal islands.
    *
    * Returns one row per island: (doc_id, span_start, span_len), offsets
    * in code points, 0-based. Canonical (first-in-corpus) occurrences are
    * never reported — they are what dedup keeps.
    *
    * Scale shape: gram explosion is map-side and the anchor filter runs
    * BEFORE any exchange, so only ~1/stride of positions shuffle (k-char
    * key + two ints); the bucket cap is a rank-limit window (partial
    * WindowGroupLimit below the exchange); witness↔canonical pairing is
    * a self-join on the anchor relation bounded by bucketCap; texts ship
    * only to PAIR rows (bounded by duplicated-anchor volume, not corpus
    * volume). Nothing is all-pairs, nothing is corpus-broadcast. */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
                       k: Int, stride: Int, maxExt: Int,
                       bucketCap: Int): DataFrame = {
    require(k >= 4, s"k=$k")
    require(stride >= 1, s"stride=$stride")
    require(maxExt >= 0, s"maxExt=$maxExt")
    require(bucketCap >= 2, s"bucketCap=$bucketCap")
    // read three times (gram stream + both extension sides): the
    // operator's working set, freed with the caller's caches. Serialized
    // + disk-spillable on purpose — this relation holds FULL corpus
    // texts, much heavier than the narrow (id, key) working sets the
    // other persists here cache, so deserialized-on-heap residency would
    // pressure execution memory for the rest of the session.
    val d = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val w = Window.partitionBy("gram").orderBy("doc_id", "pos")
    // persist: the canonical and witness sides both read this relation —
    // without it the gram explosion (the dominant O(n·k) map cost) and
    // the anchor shuffle run twice. Backs the lazily-returned result →
    // the operator's working set, freed with the caller's caches
    val ranked = contentAnchors(d, k, stride)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= bucketCap)
      .persist()
    val canon = ranked.where(col("rn") === 1)
      .select(col("gram"), col("doc_id").as("a_id"), col("pos").as("a_pos"))
    val wit = ranked.where(col("rn") > 1)
      .select(col("gram"), col("doc_id").as("b_id"), col("pos").as("b_pos"))
    val pairs = wit.join(canon, "gram")
      .join(d.select(col("doc_id").as("a_id"), col("text").as("atext")), "a_id")
      .join(d.select(col("doc_id").as("b_id"), col("text").as("btext")), "b_id")
    extendMergeIslands(pairs, k, maxExt)
  }

  /** Substring-level benchmark decontamination — [[contaminationFlags]]'s
    * screen upgraded from fixed word n-grams to ARBITRARY character
    * offsets, by pointing [[exactSubstrSpans]]'s content-keyed anchor
    * machinery at an eval set: corpus anchors that match an eval-set
    * anchor gram extend against the eval occurrence, overlapping matches
    * merge into islands, and every corpus document reports
    * (doc_id, n_spans, contam_chars, contam_frac, contaminated) with
    * `contam_frac` = contaminated code points / document length and the
    * flag at `minFrac`. An eval sentence embedded mid-paragraph at an
    * unaligned offset — which shifts every fixed-width span boundary and
    * corrupts the boundary words' n-grams — is caught because anchors
    * are chosen by CONTENT, so the shared substring anchors at the same
    * content-relative positions in both relations.
    *
    * Scale shape: the corpus side anchors at ~1/stride of positions
    * map-side before any exchange; the eval side is the small side by
    * construction (eval sets are thousands of docs against a 100 TB
    * corpus) and keeps ONE canonical occurrence per gram; pairing is a
    * join on the anchor gram bounded by `bucketCap` corpus witnesses
    * per gram; texts ship only to matched-pair rows. */
  def substrContamination(corpus: DataFrame, evalSet: DataFrame,
                          idCol: String, textCol: String,
                          k: Int, stride: Int, maxExt: Int,
                          bucketCap: Int, minFrac: Double): DataFrame = {
    require(k >= 4, s"k=$k")
    require(stride >= 1, s"stride=$stride")
    require(maxExt >= 0, s"maxExt=$maxExt")
    require(bucketCap >= 1, s"bucketCap=$bucketCap")
    val dc = corpus.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val de = evalSet.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .persist()
    val w = Window.partitionBy("gram").orderBy("doc_id", "pos")
    // ONE canonical eval occurrence per gram (first in (doc_id, pos)
    // order) — extension against any occurrence of the shared content
    // yields the same island, so one witness-per-gram is lossless here
    val canon = contentAnchors(de, k, stride)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("gram"), col("doc_id").as("a_id"), col("pos").as("a_pos"))
    val wit = contentAnchors(dc, k, stride)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= bucketCap)
      .select(col("gram"), col("doc_id").as("b_id"), col("pos").as("b_pos"))
    val pairs = wit.join(canon, "gram")
      .join(de.select(col("doc_id").as("a_id"), col("text").as("atext")), "a_id")
      .join(dc.select(col("doc_id").as("b_id"), col("text").as("btext")), "b_id")
    val stats = extendMergeIslands(pairs, k, maxExt)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        sum("span_len").cast("long").as("contam_chars"))
    dc.select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        coalesce(col("contam_chars"), lit(0L)).as("contam_chars"),
        round(when(col("len") > 0,
          coalesce(col("contam_chars"), lit(0L)).cast("double") / col("len"))
          .otherwise(lit(0.0)), 6).as("contam_frac"))
      .withColumn("contaminated", col("contam_frac") >= minFrac)
  }

  /** [[exactSubstrSpans]] applied: remove every reported island from its
    * document. Emits ALL documents: (doc_id, n_spans, dup_chars,
    * clean_hash) with clean_hash = md5 of the text with islands cut out
    * (the original text's md5 when nothing matched). */
  def exactSubstrScrub(df: DataFrame, idCol: String, textCol: String,
                       k: Int, stride: Int, maxExt: Int,
                       bucketCap: Int): DataFrame = {
    val islands = exactSubstrSpans(df, idCol, textCol, k, stride, maxExt,
        bucketCap)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_len"))))
        .as("cuts"))
    val cut = udf((text: String, cuts: Seq[org.apache.spark.sql.Row]) => {
      val cps = text.codePoints().toArray
      val keep = Array.fill(cps.length)(true)
      cuts.foreach { r =>
        val s = r.getInt(0); val e = math.min(s + r.getInt(1), cps.length)
        var i = math.max(s, 0)
        while (i < e) { keep(i) = false; i += 1 }
      }
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < cps.length) { if (keep(i)) sb.appendCodePoint(cps(i)); i += 1 }
      sb.toString
    })
    df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(size(col("cuts")), lit(0)).as("n_spans"),
        coalesce(aggregate(col("cuts"), lit(0),
          (acc, c) => acc + c.getField("span_len")), lit(0)).as("dup_chars"),
        md5(cut(col("text"),
          coalesce(col("cuts"),
            array().cast("array<struct<span_start:int,span_len:int>>"))))
          .as("clean_hash"))
  }

  /** Benchmark-contamination screen (the n-gram-overlap decontamination
    * rule of GPT-3/PaLM-style training pipelines): for every training
    * document, the fraction of its distinct word n-grams that also occur
    * anywhere in the benchmark set, plus a flag at `minFrac`. Returns
    * (doc_id, n_grams, n_contaminated, contaminated_frac, flagged), then
    * the `carry` columns.
    *
    * `carry` are named per-document expressions over `corpus`'s columns
    * (e.g. text signals); they ride through the per-doc count as grouping
    * keys, so a caller that needs them next to the flags needs no join
    * back. They are computed before the spread and cross it as values:
    * after it, whole-stage codegen would defer a passed-through
    * expression into the gram explode's loop and evaluate it once per
    * gram instead of once per document.
    *
    * Scale shape: the benchmark side is the SMALL side by construction
    * (eval sets are thousands of docs, the corpus is the 100 TB side) —
    * its distinct gram hashes become a broadcast build side, computed
    * without any repartition. The corpus shuffles ONCE, hash-partitioned
    * by id: that spreads the rows before the per-row kernels and already
    * places every document's grams where its per-doc count runs, so the
    * count needs no exchange of its own. */
  def contaminationFlags(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         n: Int, minFrac: Double,
                         carry: Seq[Column] = Nil): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    // both sides hash grams with the same native kernel, so membership
    // is preserved without materializing gram strings
    def grams(text: Column) =
      Native("ngram_hashes", codegenWords(text), lit(n)).as("grams")
    val benchGrams = benchmark.select(grams(col(textCol)))
      .select(explode(col("grams")).as("gram")).distinct()
    val docs = corpus
      .select(Seq(col(idCol).as("doc_id"), col(textCol).as("text")) ++ carry: _*)
      .repartition(par, col("doc_id"))
    val carried = docs.columns.toSeq.drop(2).map(col)
    val frac = round(when(col("n_grams") > 0,
      col("n_contaminated").cast("double") / col("n_grams")).otherwise(0.0), 6)
    // explode_outer: a doc shorter than n words keeps its row (null gram,
    // zero hits) instead of silently vanishing from the screen table
    docs.select(Seq(col("doc_id"), grams(col("text"))) ++ carried: _*)
      .select(Seq(col("doc_id"), size(col("grams")).as("n_grams"),
        explode_outer(col("grams")).as("gram")) ++ carried: _*)
      .join(broadcast(benchGrams.withColumn("hit", lit(1))), Seq("gram"), "left")
      .groupBy(Seq(col("doc_id"), col("n_grams")) ++ carried: _*)
      .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("n_contaminated"))
      .select(Seq(col("doc_id"), col("n_grams"), col("n_contaminated"),
        frac.as("contaminated_frac"), (frac >= minFrac).as("flagged")) ++ carried: _*)
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo SNM): sort the corpus
    * by a cheap blocking key, slide a window of `w` records, and emit
    * every in-window pair as a dedup candidate — the classic complement
    * to hash blocking (LSH buckets miss near-misses that SORT adjacent,
    * e.g. typo'd prefixes; SNM catches exactly those).
    *
    * Distributed total rank without a global sort on one task:
    * `repartitionByRange(key, id)` range-partitions the corpus, the
    * per-partition rank is a window over `spark_partition_id()` (each
    * task sorts only its own range), and per-partition row counts —
    * a ≤numPartitions-row relation — cumulate into offsets that add to
    * the local rank. The corpus itself is sorted once, partition-local.
    * Global rank is well-defined regardless of where the range
    * boundaries fall because (key, id) is a total order.
    *
    * Pair generation never self-joins on an inequality: ranks bucket by
    * ⌊(rank−1)/(w−1)⌋, the right side replicates into its own and the
    * PREVIOUS bucket, and the equi-join on bucket + a rank-distance
    * filter yields exactly the pairs with 1 ≤ rank_b − rank_a ≤ w−1 —
    * shuffle volume 2·N tiny (id, key, rank) rows, text never moves. */
  def sortedNeighborhood(df: DataFrame, idCol: String, key: Column,
                         window: Int): DataFrame = {
    require(window >= 2, s"window=$window must be >= 2")
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val b = window - 1
    val keyed = df.select(col(idCol).as("id"), key.as("key"))
      .repartitionByRange(par, col("key"), col("id"))
      .withColumn("pid", spark_partition_id())
    val localW = Window.partitionBy("pid").orderBy("key", "id")
    val local = keyed.withColumn("lrn", row_number().over(localW))
    // per-partition counts: ≤ par rows — the one single-partition window
    // in the operator runs over THIS relation, never the corpus
    val offsets = local.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum("cnt").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pid", "off")
    // persist: both pair sides read the ranked relation (tiny: id, key,
    // rank) — without it the range partition + local sort re-runs twice.
    // Backs the lazily-returned pairs → cannot unpersist here; the
    // operator's working set, freed with the caller's caches
    val ranked = local.join(broadcast(offsets), Seq("pid"))
      .select(col("id"), col("key"), (col("off") + col("lrn")).as("rn"))
      .persist()
    val aSide = ranked.select(col("id").as("a_id"), col("key").as("a_key"),
      col("rn").as("a_rn"), expr(s"(rn - 1) div $b").as("bucket"))
    val bSide = ranked.select(col("id").as("b_id"), col("key").as("b_key"),
        col("rn").as("b_rn"), expr(s"(rn - 1) div $b").as("bk"))
      .select(col("b_id"), col("b_key"), col("b_rn"),
        explode(array(col("bk"), col("bk") - 1)).as("bucket"))
    aSide.join(bSide, Seq("bucket"))
      .where((col("b_rn") - col("a_rn")).between(1, b))
      .select(col("a_id"), col("b_id"), col("a_key"), col("b_key"),
        (col("b_rn") - col("a_rn")).cast("int").as("rank_dist"))
  }

  /** Dedup resolution: near-dup PAIRS (from any of the generators above)
    * become duplicate CLUSTERS via connected components, and each cluster
    * keeps exactly one representative — the minimum doc id (swap in a
    * quality-ranked min by re-keying ids if curation wants "best", not
    * "first"). Returns every corpus doc with its cluster and keep flag, so
    * the keep-list is `where(keep)`.
    *
    * Transitivity is the point: A≈B and B≈C dedup {A,B,C} to one doc even
    * when A,C were never compared (LSH won't compare every pair at scale).
    *
    * The result reads the [[graft.geo.ConnectedComponents.label]]
    * checkpoint: consume it, then `graft.util.Checkpoints.free(result)`.
    */
  def resolveByComponents(corpus: DataFrame, idCol: String,
                          pairs: DataFrame): DataFrame = {
    val labels = graft.geo.ConnectedComponents.label(
      corpus.sparkSession,
      pairs.select(col("a_id").as("a"), col("b_id").as("b")))
    corpus.select(col(idCol).as("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }
}
