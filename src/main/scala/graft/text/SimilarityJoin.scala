package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Distributed, exact generation of the `checkNames` name-pair relation
  * (MergeUtil.java:166-195) — the fuzzy-match table the merge pipeline
  * joins through. Replaces a driver-side O(V²) loop over the collected
  * name vocabulary: at planetary scale (10⁸ place names) that loop is
  * 10¹⁶ comparisons on one machine; this formulation is block-then-verify
  * dataflow end to end, so the candidate volume tracks how much the
  * vocabulary actually shares, and the verify UDF only sees survivors.
  *
  * Exactness (ASCII-lowercased input — the same assumption the DuckDB
  * oracle formulation documents): a pair passing ANY `checkNames` clause
  * shares at least one of the blocking keys:
  *   - clause 1 (collator equality) + clause 2 (whitespace-stripped
  *     equality): both imply equal `nospace` keys;
  *   - clause 3 (sorted token lists equal): equal `bag` keys;
  *   - clause 4 (pair-counting sub-collection, MergeUtil.java:254-284):
  *     reaching |sub| matched word pairs requires at least ONE word pair
  *     (wm, ws) with lev(wm, ws) ≤ budget ≤ 4 — and any such word pair is
  *     produced by the segment join below.
  *
  * Word-pair blocking is the PassJoin pigeonhole (Li et al., "PASS-JOIN:
  * a partition-based method for similarity joins", VLDB 2012, public
  * algorithm): partition the shorter word u into budget(|u|)+1 even
  * segments; lev(u,v) ≤ budget forces v to contain one segment verbatim.
  * Keys are POSITIONAL — (partner length |u|, segment index i, segment
  * text) — with the paper's position-aware substring window on the probe
  * side: if segment i of u (start p) matches v at start q, the edits
  * spent before the segment are ≥ |q-p| and after it ≥ |(q-p)-Δ|
  * (Δ = |v|-|u|), so |q-p| + |(q-p)-Δ| ≤ τ bounds q to a window of at
  * most τ+1 starts per (segment, partner length). That keeps both the
  * key fan-out and the per-key match set small: a bare 1-2-char segment
  * string is shared by thousands of words under a real vocabulary, but
  * (length, index, position-window) keys track only genuine PassJoin
  * candidates. Still exact (the window condition is necessary for any
  * alignment within budget), and verification is the builtin banded
  * `levenshtein(u, v, 4)` against the reference's adaptive budget
  * (MergeUtil.getMaxLevenshteinDistance), fully codegen.
  */
object SimilarityJoin {

  // the key-generation kernels live in functions.PassJoinKeys (native
  // codegen expressions — the candidate stage runs no interpreted UDF);
  // these delegations keep the text-package surface for specs/callers
  private[text] def segments(w: String, n: Int): Seq[String] =
    graft.functions.PassJoinKeys.segments(w, n)
  private[text] def indexKeys(w: String): Seq[String] =
    graft.functions.PassJoinKeys.indexKeys(w)
  private[text] def probeKeys(w: String): Seq[String] =
    graft.functions.PassJoinKeys.probeKeys(w)

  /** All ordered word pairs (w1 shorter-or-equal side) with
    * lev ≤ adaptive budget, from a distinct-word relation `words(w)`.
    * Includes the diagonal (w, w). */
  def similarWordPairs(words: DataFrame): DataFrame = {
    val idx = words.select(col("w").as("w1"),
      explode(Native("passjoin_index_keys", col("w"))).as("seg"))
    val prb = words.select(col("w").as("w2"),
      explode(Native("passjoin_probe_keys", col("w"))).as("seg"))
    idx.join(prb, "seg")
      .where(length(col("w1")) <= length(col("w2")))
      .select("w1", "w2").distinct()
      // banded builtin levenshtein early-exits past 4 (returns -1)
      .withColumn("lev", levenshtein(col("w1"), col("w2"), 4))
      .where(col("lev") >= 0 && col("lev") <=
        when(length(col("w1")) <= 4, 1)
          .when(length(col("w1")) <= 6, 2)
          .when(length(col("w1")) <= 8, 3).otherwise(4))
      .select("w1", "w2")
  }

  private val checkNamesPreUdf = udf(
    (aLow: String, aNospace: String, aToks: Seq[String],
     bLow: String, bNospace: String, bToks: Seq[String]) =>
      TextFunctions.checkNamesPre(aLow, aNospace, aToks, bLow, bNospace, bToks))

  /** The full `checkNames` pair relation over a distinct-name relation
    * `names(nm)`: every ORDERED pair (nm_a, nm_b) — diagonal included —
    * with checkNames(nm_a, nm_b). Block-then-verify; zero driver-side
    * materialization.
    *
    * Every relation below is referenced exactly ONCE in the final plan
    * (orientation doubling goes through a single `explode`, not a union of
    * two references) — Spark does not share common subtrees, so a
    * twice-referenced candidate/verify pipeline would execute twice.
    *
    * The word leg blocks on each name's globally RAREST token: if clause 4
    * holds in direction x→y (every token of x matched in y), then in
    * particular x's rarest token matched some token of y — so joining
    * (rarest(x), any token of y) over the symmetric similar-word relation,
    * with both names taking the x role, is exact, and caps the quantified
    * side's fan-out at ONE key per name (the frequency-sorted prefix
    * filter of PPJoin, Xiao et al., WWW 2008, at prefix length 1 — valid
    * here because clause 4 quantifies over ALL tokens of one side). */
  def namePairs(names: DataFrame): DataFrame = {
    val norm = names.select(col("nm"),
        lower(col("nm")).as("low"))
      .withColumn("nospace", regexp_replace(col("low"), "\\s+", ""))
      .withColumn("toks", array_sort(filter(
        transform(split(col("low"), " "),
          w => regexp_replace(trim(w), "^\\p{Punct}+|\\p{Punct}+$", "")),
        w => w =!= "")))
      .where(col("low") =!= "")
      .cache()

    def side(p: String) = norm.select(col("nm").as(s"${p}_nm"),
      col("low").as(s"${p}_low"), col("nospace").as(s"${p}_nospace"),
      col("toks").as(s"${p}_toks"))
    val a = side("a"); val b = side("b")

    // equality legs (nospace / sorted-bag) as ONE self-join on a tagged
    // composite key — both are keys every matching pair provably shares
    val kRel = norm.select(col("nm"), explode(array(
      concat(lit("n:"), col("nospace")),
      concat(lit("b:"), array_join(col("toks"), " ")))).as("k"))
    val byKey = kRel.join(kRel.select(col("nm").as("t_nm"), col("k")), "k")
      .where(col("nm") < col("t_nm"))
      .select(col("nm").as("a_nm"), col("t_nm").as("b_nm"))
    val words = norm.select(explode(col("toks")).as("w")).distinct()
    val wp = similarWordPairs(words)
    // symmetric closure of the (shorter, longer)-ordered word pairs, so one
    // probe join covers both roles; shuffle-free (conditional explode)
    val wpSym = wp.select(explode(when(col("w1") === col("w2"),
        array(struct(col("w1").as("wm"), col("w2").as("ws"))))
      .otherwise(array(
        struct(col("w1").as("wm"), col("w2").as("ws")),
        struct(col("w2").as("wm"), col("w1").as("ws"))))).as("pr"))
      .select(col("pr.wm").as("wm"), col("pr.ws").as("ws"))
    val tokRel = norm.select(col("nm"), explode(col("toks")).as("w"))
    val freq = tokRel.groupBy("w").agg(count(lit(1)).as("freq"))
    val rarest = tokRel.join(freq, "w")
      .groupBy("nm").agg(min(struct(col("freq"), col("w"))).getField("w").as("wm"))
    val byWord = rarest
      .join(wpSym, "wm")
      .join(tokRel.select(col("nm").as("t_nm"), col("w").as("ws")), "ws")
      .where(col("nm") =!= col("t_nm"))
      .select(least(col("nm"), col("t_nm")).as("a_nm"),
        greatest(col("nm"), col("t_nm")).as("b_nm"))

    val cand = byKey.unionByName(byWord).distinct()
    val verified = cand
      .join(a, "a_nm").join(b, "b_nm")
      .where(checkNamesPreUdf(col("a_low"), col("a_nospace"), col("a_toks"),
        col("b_low"), col("b_nospace"), col("b_toks")))
      .select("a_nm", "b_nm")
    // ordered relation: diagonal + both orientations of the (single!)
    // verified stream
    norm.select(col("nm").as("nm_a"), col("nm").as("nm_b"))
      .unionByName(verified
        .select(explode(array(
          struct(col("a_nm").as("nm_a"), col("b_nm").as("nm_b")),
          struct(col("b_nm").as("nm_a"), col("a_nm").as("nm_b")))).as("pr"))
        .select(col("pr.nm_a").as("nm_a"), col("pr.nm_b").as("nm_b")))
  }
}
