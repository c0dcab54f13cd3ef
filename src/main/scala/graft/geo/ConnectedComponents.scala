package graft.geo

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.util.Checkpoints

/** Connected components as pure DataFrame iteration — the scalable label
  * assignment behind history clustering (reference:
  * openplacereviews-core/src/main/java/org/openplacereviews/api/
  * OprHistoryChangesProvider.java:233,399 clusters changed places within
  * 150 m greedily in driver memory; SURVEY §7 hard-part 2).
  *
  * Three stages, each a standard scale-out trick:
  *
  *  1. '''Partition-local contraction''': a narrow mapPartitions pass runs
  *     union-find inside each partition and emits its spanning star forest
  *     (node → partition-local min). No shuffle; output ≤ one edge per
  *     distinct node per partition; graph diameter collapses from O(n) to
  *     O(#partitions crossed by a path).
  *  2. '''Small-graph finish''': if the contracted forest fits one task
  *     (≤ `localThreshold` edges), a single union-find labels it exactly —
  *     the same escape hatch GraphFrames takes for small graphs. The
  *     threshold bounds task memory, so this is safe on a cluster too.
  *     The one task reads the forest's cached blocks through a
  *     shuffle-free `coalesce(1)`.
  *  3. '''Star-contraction loop''' (the asymptotic path): alternating
  *     large-star / small-star (Kiveris et al., "Connected Components in
  *     MapReduce and Beyond", SoCC'14) — each round one hash-aggregate and
  *     one shuffled join, no RDD vertex-program runtime, O(log n) rounds.
  *     Rounds are chained through lazy localCheckpoint: the returned
  *     Dataset roots at a LogicalRDD, so the plan stays constant-size and
  *     unpersisting an earlier round can never invalidate a later one via
  *     the CacheManager (DataFrame-persist chaining does exactly that —
  *     non-cascading uncache drops dependents' materialized data, which
  *     recomputes every prior round and turns the loop exponential).
  *     On a cluster, prefer reliable checkpointing (setCheckpointDir +
  *     .checkpoint()) for executor-loss recovery; structure is identical.
  */
object ConnectedComponents {

  /** Label every node reachable through `edges` with the minimum node id of
    * its component.
    *
    * Stages 1 and 2 run on the engine's internal rows: no object encoder,
    * so they add no generated (de)serializer classes to Spark's codegen
    * cache, and their counts are RDD jobs over cached blocks, not SQL
    * aggregates.
    *
    * Storage: on the small-graph path the result is an eager local
    * checkpoint of the labels (the stage-1 forest is freed before
    * returning); on the star path it is a lazy frame over the last
    * round's checkpoint. Either way the returned frame reads a checkpoint
    * that only the caller can release: consume it, then
    * `graft.util.Checkpoints.free(result)`.
    *
    * @param edges two LongType columns `a`, `b`; undirected, may contain
    *              duplicates, self-loops, or only one orientation; a row
    *              with a null endpoint is not an edge and is skipped
    * @param localThreshold max contracted-forest size finished by a single
    *                       task (bounds that task's memory)
    * @return DataFrame(node: Long, cluster: Long) — one row per distinct
    *         node id on a non-self-loop edge, cluster = min id of
    *         component. Isolated / self-loop-only nodes are absent:
    *         callers left-join their node universe and
    *         `coalesce(cluster, node)` (their component is themselves).
    *         Its statistics carry the exact row count, so a join against
    *         a small labeling plans as a broadcast.
    */
  def label(spark: SparkSession, edges: DataFrame,
            localThreshold: Long = 1L << 22): DataFrame = {
    // stage 1: per-partition union-find contraction (narrow, no shuffle)
    val forest = edges.select(col("a"), col("b")).queryExecution.toRdd
      .mapPartitions(rows => contract(rows.collect {
        case r if !r.isNullAt(0) && !r.isNullAt(1) => (r.getLong(0), r.getLong(1))
      }, emitRoots = false).map(pairRow))
      .localCheckpoint()
    val m = forest.count() // materializes the checkpoint

    if (m <= localThreshold) {
      // stage 2: one bounded task unions the partition forests exactly
      val labels = forest.coalesce(1)
        .mapPartitions(rows => contract(rows.map(r => (r.getLong(0), r.getLong(1))),
          emitRoots = true).map(pairRow))
        .localCheckpoint()
      val n = labels.count()
      forest.unpersist(blocking = false)
      GraftSqlShims.ofInternalRows(spark, labels, LabelSchema, n)
    } else {
      // stage 3: large-star/small-star until fixed point
      starContraction(spark, GraftSqlShims.ofInternalRows(spark, forest, EdgeSchema, m))
    }
  }

  private val EdgeSchema = StructType(Seq(
    StructField("u", LongType, nullable = false), StructField("v", LongType, nullable = false)))
  private val LabelSchema = StructType(Seq(
    StructField("node", LongType, nullable = false),
    StructField("cluster", LongType, nullable = false)))

  /** One (x, y) pair as a fixed-width row: null bitset + two longs. */
  private def pairRow(p: (Long, Long)): InternalRow = {
    val r = new UnsafeRow(2)
    r.pointTo(new Array[Byte](24), 24)
    r.setLong(0, p._1)
    r.setLong(1, p._2)
    r
  }

  /** Union-find over one partition's edges; emits the star forest
    * (node → set-min) — with `emitRoots`, also (root → root) rows, which
    * makes the output a complete labeling. Self-loops are skipped, so
    * self-loop-only nodes never register. */
  private def contract(it: Iterator[(Long, Long)],
                       emitRoots: Boolean): Iterator[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    it.foreach { case (a, b) =>
      if (a != b) {
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val (ra, rb) = (find(a), find(b))
        // attach larger root under smaller — the tree root stays the min
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
    }
    import scala.jdk.CollectionConverters._
    parent.keySet.iterator.asScala.map(k => (k, find(k)))
      .filter { case (k, r) => emitRoots || k != r }
  }

  private def starContraction(spark: SparkSession, edges0: DataFrame): DataFrame = {
    import spark.implicits._
    var e = edges0 // canonical (u, v), v < u — contract() guarantees it
    var stats = checksum(e)
    var converged = false
    var round = 0
    // log2(n)-ish bound; the checksum test exits far earlier in practice
    val maxRounds = 50

    while (!converged && round < maxRounds) {
      // ---- large-star: connect every neighbor larger than u to
      //      m = min(N(u) ∪ {u}); smaller neighbors are handled from the
      //      other endpoint's perspective. Duplicates are NOT scrubbed here
      //      (min/distinct downstream absorb them) — saves a shuffle. ----
      val sym = e.select($"u".as("s"), $"v".as("d"))
        .union(e.select($"v".as("s"), $"u".as("d")))
      val minNbr = sym.groupBy("s").agg(min("d").as("mn"))
        .select($"s", least($"s", $"mn").as("m"))
      // `sym`'s exchange on s is shared between the aggregate above and this
      // join; likewise `large`'s exchange on u below — Spark's ReuseExchange
      // computes each once.
      val large = sym.join(minNbr, "s")
        .where($"d" > $"s")
        .select($"d".as("u"), $"m".as("v"))
        .where($"u" =!= $"v")

      // ---- small-star: edges are now oriented child u → parent v < u;
      //      point every parent (and u itself) at m = min of u's parents ----
      val minNbr2 = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(minNbr2, "u")
        .where($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v")) // re-parent non-min parents (v > m)
        .union(minNbr2.select($"u", $"m".as("v"))) // keep u attached to m
        .distinct()
        .localCheckpoint(false)

      // single materializing job per round: the fingerprint scan runs the
      // round AND caches the (lazy) local checkpoint
      val next = checksum(small)
      converged = next == stats
      stats = next
      // the previous round's checkpoint (in round 1, the stage-1 forest) is
      // read by no later plan once this round is materialized — a truncated
      // round never recomputes — so free it
      Checkpoints.free(e)
      e = small
      round += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round=$round edges=${next._1} fp=${next._2} converged=$converged")
    }

    if (!converged)
      System.err.println(s"[ConnectedComponents] WARNING: star contraction " +
        s"hit the $maxRounds-round bound without a fixed point; labels may " +
        "be incomplete (expected only on adversarial graphs)")

    // converged edge set is a union of stars (u → component min) plus the
    // roots themselves; emit both sides
    val members = e.select($"u".as("node"), $"v".as("cluster"))
    val roots = e.select($"v".as("node"), $"v".as("cluster")).distinct()
    members.union(roots)
      .groupBy("node").agg(min("cluster").as("cluster"))
  }

  /** Order-independent fingerprint of an edge set: (count, xor of row
    * hashes — overflow-free under ANSI mode, unlike sum). Equal
    * fingerprints across rounds = converged. */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
