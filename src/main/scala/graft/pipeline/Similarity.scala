package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Native

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]). Brute-force cosine top-k as the exact baseline; a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale notes (100 TB): the query set is broadcast (it is small by
  * definition); candidate scoring is map-side; only (query_id, candidate,
  * rounded score) rows shuffle into the per-query top-k window. The LSH
  * variant additionally prunes candidates to same-bucket rows so the scan
  * side never fans out by |queries|.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double with
    * a deterministic left-to-right fold. Native codegen expression
    * (graft.functions.CosineSim), built directly through
    * [[graft.functions.Native]], so no session needs it registered. */
  def cosine(a: Column, b: Column): Column = Native("cosine_sim", a, b)

  /** Exact top-k by cosine: for each row of `queries`, the k nearest rows
    * of `corpus` (excluding the query row itself when ids collide).
    * Ranking uses the score rounded to 6 decimals with id tie-break, so
    * results are reproducible across engines and partitionings. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .crossJoin(q)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("sim"))
    topK(scored, k)
  }

  /** Random-hyperplane signature: bit j = sign(v · plane_j), with
    * deterministic fixed-point planes and an exact integer dot product
    * ([[PortableHash.rhSignature]]) so the DuckDB oracle reproduces every
    * bucket assignment bit-for-bit — no FP-accumulation-order ambiguity in
    * the sign test. */
  def rhSignature(vec: Seq[Float], numPlanes: Int): Int =
    PortableHash.rhSignature(vec, numPlanes)

  /** LSH-bucketed ANN top-k: corpus and queries are hashed into 2^numPlanes
    * buckets; scoring happens only within a query's bucket (plus buckets at
    * Hamming distance 1, to cut the miss rate at plane boundaries). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, numPlanes: Int): DataFrame = {
    val sigUdf = udf((v: Seq[Float]) => rhSignature(v, numPlanes))
    val probeUdf = udf((sig: Int) => sig +: (0 until numPlanes).map(j => sig ^ (1 << j)))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      sigUdf(col(vecCol)).as("bucket"))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
          explode(probeUdf(sigUdf(col(vecCol)))).as("bucket")))
    val scored = c.join(q, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("sim"))
    topK(scored, k)
  }

  private def cosScalar(a: Seq[Float], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def nearestCells(cents: Array[Array[Double]], v: Seq[Float], m: Int): Seq[Int] =
    cents.indices.sortBy(c => -cosScalar(v, cents(c))).take(m)

  /** Coarse quantizer shared by [[ivfTopK]] and [[semanticDedup]]:
    * seeds = the `nlist` lowest-id vectors (deterministic), refined with
    * one Lloyd step over a BOUNDED sample (nlist*16 vectors — a few
    * hundred KB driver-side). A cluster-wide Lloyd pass over the full
    * corpus is quantization overkill AND executes its elementwise means in
    * whatever parallelism the scan gives (measured 34 s single-task at
    * sf0.1); sample training is the standard IVF shape. */
  private def trainQuantizer(corpus: DataFrame, idCol: String, vecCol: String,
                             nlist: Int): Array[Array[Double]] = {
    val sample = corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(nlist * 16).collect()
      .map(_.getSeq[Float](1))
    val seeds = sample.take(nlist).map(_.toArray.map(_.toDouble))
    val dim = if (seeds.nonEmpty) seeds(0).length else 0
    val sums = Array.fill(nlist)(new Array[Double](dim))
    val counts = new Array[Long](nlist)
    sample.foreach { v =>
      val c = nearestCells(seeds, v, 1).head
      var i = 0
      while (i < dim && i < v.length) { sums(c)(i) += v(i); i += 1 }
      counts(c) += 1
    }
    seeds.indices.map { c =>
      if (counts(c) == 0) seeds(c) else sums(c).map(_ / counts(c))
    }.toArray
  }

  /** Shared IVF scaffold for [[ivfTopK]] and [[ivfSq8TopK]]: sample-train
    * the centroids, assign every corpus row its cell, and expand each
    * query to its `nprobe` probed cells as a broadcast relation. The
    * repartition pins the per-row assignment to full parallelism — the
    * single-file scan would otherwise run it on 1-2 tasks. */
  private def ivfAssign(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, nlist: Int, nprobe: Int)
      : (DataFrame, DataFrame) = {
    val (c, q, _) = ivfAssignWithCents(corpus, queries, idCol, vecCol, nlist, nprobe)
    (c, q)
  }

  /** [[ivfAssign]] variant that also surfaces the trained centroids —
    * residual PQ encoding needs them again for the subtraction. */
  private def ivfAssignWithCents(corpus: DataFrame, queries: DataFrame,
                                 idCol: String, vecCol: String,
                                 nlist: Int, nprobe: Int)
      : (DataFrame, DataFrame, Array[Array[Double]]) = {
    val centroids = trainQuantizer(corpus, idCol, vecCol, nlist)
    val assign = udf((v: Seq[Float]) => nearestCells(centroids, v, 1).head)
    val probes = udf((v: Seq[Float]) => nearestCells(centroids, v, nprobe))
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val c = corpus.repartition(par)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        assign(col(vecCol)).as("cell"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), explode(probes(col(vecCol))).as("cell")))
    (c, q, centroids)
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** IVF-style ANN top-k, the inverted-list scale path next to [[lshTopK]]:
    * the corpus is coarse-quantized into `nlist` cells by the
    * sample-trained [[trainQuantizer]], and each query probes its `nprobe`
    * nearest cells. Centroids are a tiny driver-side artifact (nlist ×
    * dim) used as a broadcast dim; assignment is map-side; scoring touches
    * only the probed cells' inverted lists. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int, nprobe: Int): DataFrame = {
    val (c, q) = ivfAssign(corpus, queries, idCol, vecCol, nlist, nprobe)
    topK(c.join(q, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("sim")), k)
  }

  /** IVF + SQ8 ANN — [[ivfTopK]]'s cell structure with the corpus side
    * stored as SIGNED-BYTE codes ([[Quantize.encodeColumnI8]], the −128
    * zero-point form: `array<tinyint>` is 1 byte/dim in UnsafeArrayData,
    * so the inverted lists really are 4× narrower than float32) and
    * scored against full-precision queries by on-the-fly dequantization:
    * FAISS's `IVF<n>,SQ8` composition. Cell assignment still uses the
    * exact vectors at index-build time, as FAISS does; the dequantized
    * norm is precomputed once per corpus row (one double through the
    * join), so the per-pair ADC cost is the dot product only. All
    * scoring arithmetic is exact-order double math the oracle
    * reproduces. */
  def ivfSq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, nlist: Int, nprobe: Int,
                 dims: Int): DataFrame = {
    val (lo, hi) = Quantize.trainMinMax(corpus, vecCol, dims)
    val loLit = array(lo.map(lit): _*)
    val hiLit = array(hi.map(lit): _*)
    // dequantized component i of a signed-byte code column
    def dqAt(codes: Column, i: Column) = {
      val l = element_at(loLit, i + 1)
      val h = element_at(hiLit, i + 1)
      l + (element_at(codes, i + 1).cast("double") + 128) * (h - l) / 255
    }
    def sumOf(arr: Column) = aggregate(arr, lit(0.0), (s, x) => s + x)
    val (cRaw, qRaw) = ivfAssign(corpus, queries, idCol, vecCol, nlist, nprobe)
    val c = cRaw
      .withColumn("codes", Quantize.encodeColumnI8(col("c_vec"), lo, hi))
      .withColumn("nb", sumOf(transform(sequence(lit(0), lit(dims - 1)),
        i => dqAt(col("codes"), i) * dqAt(col("codes"), i))))
      .drop("c_vec")
    val q = qRaw.withColumn("q_vec", transform(col("q_vec"), x => x.cast("double")))
    val joined = c.join(q, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
    val dot = sumOf(zip_with(col("q_vec"),
      transform(sequence(lit(0), lit(dims - 1)), i => dqAt(col("codes"), i)),
      (a, b) => a * b))
    val na = sumOf(transform(col("q_vec"), a => a * a))
    topK(joined.select(col("query_id"), col("neighbor_id"),
      round(dot / (sqrt(na) * sqrt(col("nb"))), 6).as("sim")), k)
  }

  /** Product-quantizer codebooks: `m` subspaces of `dims/m` dimensions,
    * each with `ksub` codewords — trained like [[trainQuantizer]] (seeds =
    * the lowest-id sample subvectors, one Lloyd step over the same bounded
    * 256-vector sample, empty codes keep their seed), but with L2
    * assignment (k-means in the subspace, the PQ norm) instead of cosine.
    * Returns [m][ksub][dims/m] — nlist-independent, a few KB driver-side.
    * Ties in the argmin resolve to the smallest code index, matching the
    * oracle's `ORDER BY dist ASC, code ASC`. */
  private def trainPq(corpus: DataFrame, idCol: String, vecCol: String,
                      m: Int, ksub: Int, dims: Int): Array[Array[Array[Double]]] =
    trainPqOn(sampleVectors(corpus, idCol, vecCol)
      .map(v => Array.tabulate(dims)(i => v(i).toDouble)), m, ksub, dims)

  /** The bounded lowest-id training sample shared by the PQ trainers
    * (same 256-vector window as [[trainQuantizer]]). */
  private def sampleVectors(corpus: DataFrame, idCol: String,
                            vecCol: String): Array[Seq[Float]] =
    corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(256).collect().map(_.getSeq[Float](1))

  /** Codebook training over pre-built (possibly residual) double
    * vectors. */
  private def trainPqOn(samples: Array[Array[Double]], m: Int, ksub: Int,
                        dims: Int): Array[Array[Array[Double]]] = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val dsub = dims / m
    require(samples.length >= ksub,
      s"PQ training sample (${samples.length}) smaller than ksub=$ksub")
    Array.tabulate(m) { s =>
      val subs = samples.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val seeds = subs.take(ksub)
      val sums = Array.fill(ksub)(new Array[Double](dsub))
      val counts = new Array[Long](ksub)
      subs.foreach { x =>
        val c = argminL2(seeds, x)
        var iw = 0
        while (iw < dsub) { sums(c)(iw) += x(iw); iw += 1 }
        counts(c) += 1
      }
      seeds.indices.map { c =>
        if (counts(c) == 0) seeds(c) else sums(c).map(_ / counts(c))
      }.toArray
    }
  }

  /** Smallest-index argmin of sequential-order L2 distance (strict `<`
    * keeps the first minimum) — the tie-break-sensitive primitive shared
    * with [[Clustering]]; both oracles spell it `ORDER BY dist ASC,
    * code/cl ASC`. */
  private[pipeline] def argminL2(cents: Array[Array[Double]], x: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var d = 0.0; var iw = 0
      val cv = cents(c)
      while (iw < cv.length) { val t = x(iw) - cv(iw); d += t * t; iw += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** IVF + PQ ANN — FAISS's `IVF<n>,PQ<m>` rung past [[ivfSq8TopK]]: the
    * same coarse cells, with the inverted lists compressed to `m`
    * code-indices per vector (m bytes at ksub ≤ 256 — for 64-dim float32,
    * 32× smaller than the raw vectors, vs SQ8's 4×). Direct encoding
    * (FAISS `by_residual=false`): each subvector maps to its nearest
    * codebook entry; candidates are scored against the RECONSTRUCTED
    * vector (codebook rows concatenated in subspace order) with exactly
    * [[ivfSq8TopK]]'s full-vector fold, so the p32 oracle reuses the p30
    * scoring CTE shape verbatim. Reconstruction norms are precomputed
    * once per corpus row; the per-pair cost is the dot product only
    * (ADC with the codebook inlined as a literal — no table join on the
    * scoring path).
    *
    * Scale: codebooks are an O(m·ksub·dims/m) driver artifact like the
    * IVF centroids; encoding is one map-only pass; everything after is
    * p13's probed-cell join. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nlist: Int, nprobe: Int,
                m: Int, ksub: Int, dims: Int): DataFrame = {
    val cb = trainPq(corpus, idCol, vecCol, m, ksub, dims)
    val dsub = dims / m
    val cbLit = array(cb.map(sub =>
      array(sub.map(code => array(code.map(lit): _*)): _*)): _*)
    val encodeUdf = udf((v: Seq[Float]) => Array.tabulate(m) { s =>
      argminL2(cb(s), Array.tabulate(dsub)(iw => v(s * dsub + iw).toDouble))
    })
    val (cRaw, qRaw) = ivfAssign(corpus, queries, idCol, vecCol, nlist, nprobe)
    val c = cRaw
      .withColumn("codes", encodeUdf(col("c_vec")))
      .withColumn("dq", flatten(transform(col("codes"),
        (code, s) => element_at(element_at(cbLit, s + lit(1)), code + lit(1)))))
    scoreReconstructed(c, qRaw, k)
  }

  /** Shared ADC tail of the PQ variants: precompute the reconstruction
    * norm per corpus row, join probed cells, score `q · dq` in the exact
    * p30 fold order. `c` must carry (neighbor_id, cell, dq). */
  private def scoreReconstructed(cIn: DataFrame, qRaw: DataFrame, k: Int): DataFrame = {
    def sumOf(arr: Column) = aggregate(arr, lit(0.0), (s, x) => s + x)
    val c = cIn
      .withColumn("nb", sumOf(transform(col("dq"), x => x * x)))
      .drop("c_vec", "codes")
    val q = qRaw.withColumn("q_vec", transform(col("q_vec"), x => x.cast("double")))
    val joined = c.join(q, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
    val dot = sumOf(zip_with(col("q_vec"), col("dq"), (a, b) => a * b))
    val na = sumOf(transform(col("q_vec"), a => a * a))
    topK(joined.select(col("query_id"), col("neighbor_id"),
      round(dot / (sqrt(na) * sqrt(col("nb"))), 6).as("sim")), k)
  }

  /** [[ivfPqTopK]] with FAISS's DEFAULT `by_residual=true` encoding: the
    * codebooks are trained on, and the codes quantize, the RESIDUAL
    * `v − centroid(cell(v))` — residual energy is much smaller than
    * vector energy once the coarse quantizer has soaked up the cluster
    * structure, so the same m bytes buy finer resolution on clustered
    * data. Reconstruction adds the cell centroid back
    * (`dq = centroid + codebook rows`); scoring is the shared ADC
    * tail. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, nlist: Int, nprobe: Int,
                        m: Int, ksub: Int, dims: Int): DataFrame = {
    val (cRaw, qRaw, cents) =
      ivfAssignWithCents(corpus, queries, idCol, vecCol, nlist, nprobe)
    val dsub = dims / m
    val residuals = sampleVectors(corpus, idCol, vecCol).map { v =>
      val cell = nearestCells(cents, v, 1).head
      Array.tabulate(dims)(i => v(i).toDouble - cents(cell)(i))
    }
    val cb = trainPqOn(residuals, m, ksub, dims)
    val encodeUdf = udf((v: Seq[Float], cell: Int) => Array.tabulate(m) { s =>
      argminL2(cb(s), Array.tabulate(dsub)(iw =>
        v(s * dsub + iw).toDouble - cents(cell)(s * dsub + iw)))
    })
    val centsLit = array(cents.map(cv => array(cv.map(lit): _*)): _*)
    val cbLit = array(cb.map(sub =>
      array(sub.map(code => array(code.map(lit): _*)): _*)): _*)
    val c = cRaw
      .withColumn("codes", encodeUdf(col("c_vec"), col("cell")))
      .withColumn("dq", zip_with(
        element_at(centsLit, col("cell") + 1),
        flatten(transform(col("codes"),
          (code, s) => element_at(element_at(cbLit, s + lit(1)), code + lit(1)))),
        (a, b) => a + b))
    scoreReconstructed(c, qRaw, k)
  }

  /** Embedding-cosine near-duplicate pairs: all corpus pairs with
    * cosine >= minSim, LSH-bucketed so only same-bucket pairs are scored.
    * Exact within a bucket; the all-pairs oracle form is only run at test
    * scale. */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         minSim: Double, numPlanes: Int): DataFrame = {
    val sigUdf = udf((v: Seq[Float]) => rhSignature(v, numPlanes))
    val expandUdf = udf((sig: Int) => sig +: (0 until numPlanes).map(j => sig ^ (1 << j)))
    val g = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      sigUdf(col(vecCol)).as("sig"))
    val probe = g.select(col("id").as("a_id"), col("vec").as("a_vec"),
      explode(expandUdf(col("sig"))).as("bucket"))
    val build = g.select(col("id").as("b_id"), col("vec").as("b_vec"),
      col("sig").as("bucket"))
    probe.join(build, "bucket")
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosine(col("a_vec"), col("b_vec")), 6).as("sim"))
      .where(col("sim") >= minSim)
      .distinct()
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the embeddings with the
    * [[trainQuantizer]] IVF quantizer, score cosine only WITHIN a cell,
    * connect pairs >= minSim into components, and keep one canonical
    * member (minimum id) per component.
    *
    * Scale shape (100 TB): the quantizer is a bounded driver artifact
    * (nlist x dim); cell assignment is map-side; the only quadratic term
    * is per-cell pair scoring, which SemDeDup bounds by choosing nlist
    * proportional to corpus size (cells of ~constant expected occupancy) —
    * exactly the published algorithm's cost model. Component resolution is
    * the same distributed star-contraction used by the text dedup path
    * ([[Dedup.resolveByComponents]]), so transitive duplicate chains
    * collapse without any driver-side grouping.
    *
    * Returns one row per corpus vector: (vec_id, cell, cluster_id, keep).
    */
  /** MMR — Maximal Marginal Relevance diversified top-k (Carbonell &
    * Goldstein 1998): greedily select `k` of the `candK` most relevant
    * candidates, each round taking the candidate maximizing
    * `λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` — relevance traded
    * against redundancy with what is already picked. The de-facto
    * re-ranking step between retrieval and a RAG context window (near-
    * identical passages waste the budget) and the per-query counterpart
    * of SemDeDup's corpus-level pruning.
    *
    * Scale shape: the ONLY corpus-sized work is the relevance pass
    * (delegated to [[bruteForceTopK]] — swap in [[ivfTopK]] upstream for
    * the ANN path); everything after runs on bounded relations —
    * candidates are |Q|·candK rows, pairwise sims |Q|·candK², and each
    * of the k greedy rounds is a join + one argmax hash-aggregate over
    * those. No collect anywhere; per-round localCheckpoints keep the
    * k-round plan flat (the [[graft.pipeline.Bpe]] convention).
    *
    * Determinism: every pairwise sim is rounded to 6 decimals (the p5
    * parity contract), and the MMR score is a fixed expression over
    * those rounded doubles — `λ·rel − (1−λ)·maxsim` with `1−λ` COMPUTED
    * (both engines evaluate `1.0 − λ` to the same double; a hand-typed
    * decimal literal would not round-trip identically). Ties break by
    * doc id, so the selection is a pure function of the inputs.
    *
    * Returns (query_id, doc_id, sel_rank 1..k, mmr rounded to 6).
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, candK: Int, k: Int,
              lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && candK >= k, s"candK=$candK k=$k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda=$lambda")
    val lam = lit(lambda)
    val oneMinusLam = lit(1.0) - lit(lambda)
    val cand = bruteForceTopK(corpus, queries, idCol, vecCol, candK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("sim").as("rel"))
      .localCheckpoint()
    val vecs = corpus.select(col(idCol).as("doc_id"), col(vecCol).as("v"))
    val cv = cand.join(vecs, "doc_id")
      .select(col("query_id"), col("doc_id"), col("v"))
    val pair = cv.select(col("query_id"), col("doc_id").as("a_id"), col("v").as("va"))
      .join(cv.select(col("query_id"), col("doc_id").as("b_id"), col("v").as("vb")),
        "query_id")
      .where(col("a_id") =!= col("b_id"))
      .select(col("query_id"), col("a_id"), col("b_id"),
        round(cosine(col("va"), col("vb")), 6).as("dsim"))
      .localCheckpoint()
    val wPick = Window.partitionBy("query_id")
      .orderBy(col("mmr_raw").desc, col("doc_id"))
    // round 1: empty selected set, the redundancy term is zero — same
    // formula, maxsim = 0
    var selected = cand
      .withColumn("mmr_raw", lam * col("rel") - oneMinusLam * lit(0.0))
      .withColumn("rn", row_number().over(wPick)).where(col("rn") === 1)
      .select(col("query_id"), col("doc_id"), lit(1).as("sel_rank"),
        col("mmr_raw"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val remaining = cand.join(selected.select("query_id", "doc_id"),
        Seq("query_id", "doc_id"), "left_anti")
      // redundancy term: for every remaining candidate, its max rounded
      // sim to the already-selected set (joins spelled via renames so no
      // ambiguous refs)
      val simToSel = pair
        .join(selected.select(col("query_id"), col("doc_id").as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy("query_id", "a_id")
        .agg(max(col("dsim")).as("maxsim"))
        .withColumnRenamed("a_id", "doc_id")
      val pick = remaining
        .join(simToSel, Seq("query_id", "doc_id"), "left")
        .withColumn("mmr_raw",
          lam * col("rel") - oneMinusLam * coalesce(col("maxsim"), lit(0.0)))
        .withColumn("rn", row_number().over(wPick)).where(col("rn") === 1)
        .select(col("query_id"), col("doc_id"), lit(r).as("sel_rank"),
          col("mmr_raw"))
      selected = selected.unionByName(pick).localCheckpoint()
    }
    // mmr rounds to NINE decimals, not the repo's usual six: round-1
    // scores are exactly λ·rel with rel already 6-decimal, so their
    // exact decimal expansion has 7 digits — at scale 6 every second
    // value sits ON a rounding midpoint and the two engines' round()
    // implementations disagree at 1 ulp. At scale 9 the exact value is
    // representable and no midpoint exists.
    selected.select(col("query_id"), col("doc_id"), col("sel_rank"),
      round(col("mmr_raw"), 9).as("mmr"))
  }

  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, minSim: Double): DataFrame = {
    val centroids = trainQuantizer(corpus, idCol, vecCol, nlist)
    val assign = udf((v: Seq[Float]) => nearestCells(centroids, v, 1).head)
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    // cells feeds pair generation AND the final projection — cache ids +
    // cell only alongside the vectors actually needed for scoring
    val cells = corpus.repartition(par)
      .select(col(idCol).as("vid"), col(vecCol).as("vec"),
        assign(col(vecCol)).as("cell"))
      .cache()
    // materialize before fan-out: both self-join legs plus the two
    // projection consumers otherwise stampede the lazy cache and run the
    // per-row quantizer assignment several times concurrently (same trade
    // as the eager shingle/signature caches in Dedup)
    cells.count()
    val pairs = cells.as("a")
      .join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("a_id"), col("b.vid").as("b_id"),
        round(cosine(col("a.vec"), col("b.vec")), 6).as("sim"))
      .where(col("sim") >= minSim)
      .select(col("a_id"), col("b_id"))
    Dedup.resolveByComponents(cells.select(col("vid")), "vid", pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("keep"))
      .join(cells.select(col("vid").as("vec_id"), col("cell")), "vec_id")
      .select(col("vec_id"), col("cell"), col("cluster_id"), col("keep"))
  }
}
