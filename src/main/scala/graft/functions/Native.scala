package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** The engine's native Catalyst functions, as one table. Each row names a
  * SQL function, the expression class it builds, its signature, and a
  * builder over exactly that many arguments. The table drives all three
  * ways in:
  *
  *  - [[graft.GraftExtensions]] injects every row into every session of a
  *    deployment (`spark.sql.extensions=graft.GraftExtensions`);
  *  - [[register]] adds the rows to one session, for code that calls the
  *    functions by name from SQL;
  *  - [[apply]] builds the expression straight into a `Column`, which is
  *    how library operators use them: no session's function registry is
  *    read or written, so an operator works on any session and leaves it
  *    as it found it.
  */
object Native {

  /** One native function. `build` sees exactly as many arguments as
    * `signature` lists; [[Fn.builder]] checks the count first. */
  final case class Fn(name: String, cls: Class[_ <: Expression], signature: String)(
      build: Seq[Expression] => Expression) {
    val arity: Int = signature.split(',').length
    val info = new ExpressionInfo(cls.getName, name)

    /** A wrong argument count is an analysis error that names the
      * signature, not an index-out-of-bounds from inside the builder. */
    val builder: Seq[Expression] => Expression = args => {
      if (args.length != arity)
        throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
          "functionName" -> s"`$name`($signature)",
          "expectedNum" -> arity.toString, "actualNum" -> args.length.toString,
          "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
      build(args)
    }
  }

  // coerce SQL-side DECIMAL arithmetic and BIGINT literals to the kernels'
  // exact input types; an argument already of that type is left as is
  private def as(t: DataType)(e: Expression): Expression =
    if (e.resolved && e.dataType == t) e else Cast(e, t)
  private val dbl = as(DoubleType) _
  private val int = as(IntegerType) _

  val table: Seq[Fn] = Seq(
    Fn("haversine_m", classOf[HaversineM],
        "lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE") {
      case Seq(a, b, c, d) => HaversineM(dbl(a), dbl(b), dbl(c), dbl(d)) },
    Fn("olc_encode", classOf[OlcEncodeExpr], "lat DOUBLE, lon DOUBLE, codeLength INT") {
      case Seq(lat, lon, n) => OlcEncodeExpr(dbl(lat), dbl(lon), int(n)) },
    Fn("olc_ring", classOf[OlcRing], "code STRING") {
      case Seq(code) => OlcRing(code) },
    Fn("geo_band_key", classOf[GeoBandKey], "lat DOUBLE, lon DOUBLE, radiusM DOUBLE") {
      case Seq(lat, lon, r) => GeoBandKey(dbl(lat), dbl(lon), dbl(r)) },
    Fn("geo_band_keys", classOf[GeoBandKeys], "lat DOUBLE, lon DOUBLE, radiusM DOUBLE") {
      case Seq(lat, lon, r) => GeoBandKeys(dbl(lat), dbl(lon), dbl(r)) },
    Fn("cosine_sim", classOf[CosineSim], "a ARRAY<FLOAT>, b ARRAY<FLOAT>") {
      case Seq(a, b) => CosineSim(a, b) },
    Fn("sorted_intersect_size", classOf[SortedIntersectSize], "a ARRAY<T>, b ARRAY<T>") {
      case Seq(a, b) => SortedIntersectSize(a, b) },
    Fn("ngram_hashes", classOf[NgramHashes], "words ARRAY<STRING>, n INT") {
      case Seq(words, n) => NgramHashes(words, int(n)) },
    Fn("minhash_band_keys", classOf[MinhashBandKeys],
        "words ARRAY<STRING>, n INT, numHashes INT, bandRows INT") {
      case Seq(words, n, h, r) => MinhashBandKeys(words, int(n), int(h), int(r)) },
    Fn("rolling_anchors", classOf[RollingAnchors], "text STRING, k INT, stride INT") {
      case Seq(text, k, stride) => RollingAnchors(text, int(k), int(stride)) },
    Fn("passjoin_index_keys", classOf[PassJoinIndexKeys], "word STRING") {
      case Seq(w) => PassJoinIndexKeys(w) },
    Fn("passjoin_probe_keys", classOf[PassJoinProbeKeys], "word STRING") {
      case Seq(w) => PassJoinProbeKeys(w) },
    Fn("poly31_hash", classOf[Poly31Hash], "s STRING") {
      case Seq(s) => Poly31Hash(s) },
    Fn("nfc_normalize", classOf[NfcNormalize], "s STRING") {
      case Seq(s) => NfcNormalize(s) },
    Fn("bottom_k_distinct", classOf[BottomKDistinct], "value BIGINT, k INT") {
      case Seq(v, k) => BottomKDistinct(v, int(k)) },
    Fn("text_signals", classOf[TextSignals], "text STRING") {
      case Seq(text) => TextSignals(text) })

  private val byName: Map[String, Fn] = table.map(f => f.name -> f).toMap

  /** Idempotently add every table function to one session's registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!registry.functionExists(id)) registry.registerFunction(id, f.info, f.builder)
    }
  }

  /** The native function `name` over `args`, built directly: the same
    * expression a by-name SQL call resolves to, with an aggregate wrapped
    * the way the analyzer wraps one. */
  def apply(name: String, args: Column*): Column = {
    val fn = byName.getOrElse(name,
      throw new IllegalArgumentException(s"no native function named $name"))
    GraftSqlShims.column(fn.builder(args.map(GraftSqlShims.expression)) match {
      case agg: AggregateFunction => agg.toAggregateExpression()
      case e => e
    })
  }
}
