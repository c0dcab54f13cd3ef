package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.geo.GeoFunctions

/** Remaining SURVEY §2 surface: sinks, the SQL/UDF registration surface,
  * nested-map aggregation, batching, and distance sort. */
object CatalogExtra {

  /** A13 GeoJSON feature serialization — the sink projection, built as a
    * deterministic string (identical concat on both engines; Spark's
    * to_json key order would differ from DuckDB's). */
  private def a13(s: SparkSession, d: String): DataFrame = {
    val lat = round(Synth.lat(col("c_custkey")), 2)
    val lon = round(Synth.lon(col("c_custkey")), 2)
    Tables.customer(s, d).select(col("c_custkey"),
        concat(lit("""{"type":"Feature","geometry":{"type":"Point","coordinates":["""),
          lon, lit(","), lat,
          lit("""]},"properties":{"opr_id":""""),
          GeoFunctions.olcEncode(Synth.lat(col("c_custkey")), Synth.lon(col("c_custkey")), 6),
          lit(",s"), col("c_custkey"), lit(""""}}""")).as("feature_json"))
      .orderBy("c_custkey")
  }

  /** K: the UDF/extension surface — register engine functions with
    * spark.udf and run the query through spark.sql over a temp view (the
    * reference's ANTLR expression DSL → Spark SQL is the DSL). */
  private def k1(s: SparkSession, d: String): DataFrame = {
    s.udf.register("graft_simple_name",
      (name: String) => graft.text.TextFunctions.simpleName(name))
    s.udf.register("graft_first_non_empty",
      (xs: Seq[String]) => graft.text.TextFunctions.firstNonEmpty(xs))
    // native Catalyst expressions are part of the same SQL surface
    graft.functions.Native.register(s)
    Tables.part(s, d).createOrReplaceTempView("part_v")
    // D-suffixed literals keep the arithmetic in DOUBLE like the Column
    // API (plain 100.0 parses as DECIMAL in Spark SQL and would round
    // differently at cell boundaries than the oracle)
    s.sql("""
      SELECT p_partkey,
             graft_simple_name(p_name) AS simple_name,
             graft_first_non_empty(array(p_type, p_name)) AS first_ne,
             olc_encode(((p_partkey * 7919) % 17000) / 100.0D - 85.0D,
                        ((p_partkey * 104729) % 36000) / 100.0D - 180.0D, 6) AS tile
      FROM part_v ORDER BY p_partkey""")
  }

  /** E2 images-count aggregation: nested map<category, array> sizes summed
    * with higher-order `aggregate` (BaseOprPlaceDataProvider.java:227-239). */
  private def e2(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val images = o.groupBy(col("o_custkey").as("key"))
      .agg(map(
        lit("review"), collect_list(when(col("o_orderstatus") === "F", col("o_orderkey"))),
        lit("photos"), collect_list(when(col("o_orderstatus") =!= "F", col("o_orderkey"))))
        .as("images"))
    images.select(col("key"),
        aggregate(map_values(col("images")), lit(0), (acc, x) => acc + size(x))
          .as("total_images"),
        size(element_at(col("images"), "review")).as("review_cnt"))
      .orderBy("key")
  }

  /** H2/A14 operation batching: 250 places per op, 16 ops per block —
    * assignment is a pure row_number computation, batch sizes verified. */
  private def h2(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy("o_orderkey")
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("op_id", expr("rn div 250"))
      .withColumn("block_id", expr("rn div (250 * 16)"))
      .groupBy("block_id", "op_id")
      .agg(count(lit(1)).as("batch_size"),
        min("o_orderkey").as("first_key"), max("o_orderkey").as("last_key"))
      .orderBy("block_id", "op_id")
  }

  /** G13 distance sort: nearest 20 customers to a reference point with a
    * deterministic tie-break (OsmMapUtils.java:292-299). */
  private def g13(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"),
        round(GeoFunctions.haversineM(Synth.lat(col("c_custkey")), Synth.lon(col("c_custkey")),
          lit(48.15), lit(17.12)), 1).as("dist_m"))
      .orderBy(col("dist_m"), col("c_custkey"))
      .limit(20)

  /** D12 interval overlap join ([[graft.operators.RangeJoin.overlap]]):
    * per-user view-attention windows (10 min from the view) overlapped
    * with purchase-decision windows (5 min from the purchase) — the
    * bucketized range join Spark lacks natively, as a plain equi-join on
    * (user, 15-min bucket) with exactly-once pair emission. The oracle is
    * the naive inequality join (fine at oracle SF; quadratic per key at
    * engine scale, which is the operator's point). */
  private def d12(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_seconds(ts)").as("start"))
    def iv(kind: String, len: Int) = ev.where(col("event_type") === kind)
      .select(col("event_id"), col("user_id"), col("start"),
        (col("start") + len).as("end"))
    graft.operators.RangeJoin.overlap(
        iv("view", 600), iv("purchase", 300),
        keys = Seq("user_id"), startCol = "start", endCol = "end",
        bucketWidth = 900L)
      .select(col("user_id"), col("l_event_id"), col("r_event_id"), col("overlap"))
      .orderBy("l_event_id", "r_event_id")
  }

  /** D13 Bloom semi-join ([[graft.operators.BloomJoin.semiJoin]]):
    * lineitem pruned map-side by a Bloom filter over one nation's
    * suppliers before the exact semi-join, then aggregated. The Bloom
    * pass changes NOTHING semantically (no false negatives), so the
    * oracle is the plain IN-subquery — at scale it is the difference
    * between shuffling 1% and 100% of the fact table. */
  private def d13(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_returnflag"), col("l_quantity"))
    val sup = Tables.supplier(s, d).where(col("s_nationkey") === 5)
      .select(col("s_suppkey"))
    graft.operators.BloomJoin.semiJoin(li, sup,
        probeKeys = Seq("l_suppkey"), buildKeys = Seq("s_suppkey"),
        expectedItems = 10000L)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).cast("double").as("sum_qty"))
      .select(col("l_returnflag"), col("n_items"), round(col("sum_qty"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** D16 skew-salted join ([[graft.operators.SaltedJoin.inner]]):
    * lineitem ⋈ supplier on suppkey, salted 8 ways — semantically the
    * plain join (which is the oracle), but the exchange key is
    * (suppkey, salt) so a hot supplier's lines spread over 8 tasks
    * instead of one straggler. Aggregated per nation afterwards. */
  private def d16(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey").as("suppkey"),
        col("l_quantity"), col("l_extendedprice"))
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.operators.SaltedJoin.inner(li, sup, Seq("suppkey"), salts = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double"), 2).as("revenue"))
      .orderBy("s_nationkey")
  }

  private val saltedJoinOracleSql =
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
      |             AS DOUBLE), 2) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  private val bloomJoinOracleSql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
      |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
      |FROM lineitem
      |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 5)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** D14 forward as-of join ([[graft.operators.AsofJoin.forward]]): each
    * view enriched with the NEXT purchase at-or-after it for the same
    * user — time-to-conversion, the mirror of d10's latest-view
    * enrichment. Ties prefer the smallest purchase id (nearest to the
    * forward horizon), mirrored in the oracle's `ord` ordering. */
  private def d14(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"),
        col("value").as("purchase_value"))
    graft.operators.AsofJoin.forward(views, purchases, Seq("user_id"),
        "ts", "ts", payload = Seq("purchase_id", "purchase_value"),
        tiebreak = "purchase_id")
      .select(col("event_id"), col("user_id"),
        expr("unix_seconds(ts)").as("view_epoch"),
        col("purchase_id"), round(col("purchase_value"), 2).as("purchase_value"))
      .orderBy("event_id")
  }

  /** D15 tolerance-bounded as-of ([[graft.operators.AsofJoin.backwardWithin]]):
    * d10's enrichment, but a view older than 10 minutes is too stale to
    * attach (pandas merge_asof `tolerance`). Epoch-seconds columns on
    * both sides so the subtraction defines the unit. */
  private def d15(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        expr("unix_seconds(ts)").as("epoch"), col("event_type"), col("value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("epoch"))
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("epoch"),
        col("value").as("view_value"))
    graft.operators.AsofJoin.backwardWithin(purchases, views, Seq("user_id"),
        "epoch", "epoch", payload = Seq("view_id", "view_value"),
        tiebreak = "view_id", tolerance = 600L)
      .select(col("event_id"), col("user_id"),
        col("epoch").as("purchase_epoch"),
        col("view_id"), round(col("view_value"), 2).as("view_value"))
      .orderBy("event_id")
  }

  private val asofToleranceOracleSql =
    """WITH u AS (
      |  SELECT user_id, epoch_ns(ts) // 1000000000 AS e, 1 AS side, event_id,
      |         NULL::BIGINT AS ord, NULL::BIGINT AS v_id,
      |         NULL::DOUBLE AS v_val
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, epoch_ns(ts) // 1000000000, 0, NULL, event_id, event_id, value
      |  FROM events WHERE event_type = 'view'),
      |w AS (
      |  SELECT *,
      |    last_value(v_id IGNORE NULLS) OVER win AS m_id,
      |    last_value(v_val IGNORE NULLS) OVER win AS m_val,
      |    last_value(CASE WHEN side = 0 THEN e END IGNORE NULLS) OVER win AS m_ts
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY e, side, ord
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, e AS purchase_epoch,
      |       CASE WHEN m_ts IS NOT NULL AND e - m_ts <= 600 THEN m_id END AS view_id,
      |       CASE WHEN m_ts IS NOT NULL AND e - m_ts <= 600
      |            THEN round(m_val, 2) END AS view_value
      |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin

  private val asofForwardOracleSql =
    """WITH u AS (
      |  SELECT user_id, ts, 0 AS side, event_id,
      |         NULL::BIGINT AS ord, NULL::BIGINT AS p_id,
      |         NULL::DOUBLE AS p_val
      |  FROM events WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT user_id, ts, 1, NULL, event_id, event_id, value
      |  FROM events WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT *,
      |    first_value(p_id IGNORE NULLS) OVER win AS purchase_id,
      |    first_value(p_val IGNORE NULLS) OVER win AS m_val
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, ord
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_id, user_id,
      |       epoch_ns(ts) // 1000000000 AS view_epoch,
      |       purchase_id, round(m_val, 2) AS purchase_value
      |FROM w WHERE side = 0 ORDER BY event_id""".stripMargin

  private val rangeJoinOracleSql =
    """WITH v AS (SELECT event_id, user_id,
      |            epoch_ns(ts) // 1000000000 AS s,
      |            epoch_ns(ts) // 1000000000 + 600 AS e
      |          FROM events WHERE event_type = 'view'),
      |p AS (SELECT event_id, user_id,
      |        epoch_ns(ts) // 1000000000 AS s,
      |        epoch_ns(ts) // 1000000000 + 300 AS e
      |      FROM events WHERE event_type = 'purchase')
      |SELECT v.user_id, v.event_id AS l_event_id, p.event_id AS r_event_id,
      |       least(v.e, p.e) - greatest(v.s, p.s) AS overlap
      |FROM v JOIN p ON v.user_id = p.user_id AND v.s <= p.e AND p.s <= v.e
      |ORDER BY l_event_id, r_event_id""".stripMargin

  /** D10/D11 shared shape: every purchase event enriched with the latest
    * view event at-or-before it for the same user — the point-in-time
    * join the reference's serving layer approximates with per-request
    * "latest state" lookups (BaseOprPlaceDataProvider.java latest-object
    * reads), generalized to a whole-relation operator. `join` is the
    * as-of variant under test. */
  private def asofPurchaseViews(s: SparkSession, d: String)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts"),
        col("value").as("view_value"))
    join(purchases, views)
      .select(col("event_id"), col("user_id"),
        expr("unix_seconds(ts)").as("purchase_epoch"),
        col("view_id"), round(col("view_value"), 2).as("view_value"))
      .orderBy("event_id")
  }

  /** D10 backward as-of join ([[graft.operators.AsofJoin.backward]]). */
  private def d10(s: SparkSession, d: String): DataFrame =
    asofPurchaseViews(s, d)((p, v) =>
      graft.operators.AsofJoin.backward(p, v, Seq("user_id"),
        "ts", "ts", payload = Seq("view_id", "view_value"), tiebreak = "view_id"))

  /** D10's hot-key escape hatch ([[graft.operators.AsofJoin.backwardSliced]]):
    * same semantics, window partitioned on (user, day-slice) with
    * per-slice carry state — the form a single pathological user (half
    * the events) runs at scale. Provably identical to d10, so it shares
    * d10's oracle. */
  private def d11(s: SparkSession, d: String): DataFrame =
    asofPurchaseViews(s, d)((p, v) =>
      graft.operators.AsofJoin.backwardSliced(p, v, Seq("user_id"),
        "ts", "ts", payload = Seq("view_id", "view_value"),
        tiebreak = "view_id", sliceWidth = 86400L))

  /** D17: the same join as a FIRST-CLASS physical operator
    * ([[graft.plans.NativeAsofJoin]] — custom LogicalPlan + Strategy +
    * SparkPlan): per-side sorts + a streaming per-partition merge,
    * never materializing the tagged-union padded relation. Provably
    * identical to d10, so it shares d10's oracle. */
  private def d17(s: SparkSession, d: String): DataFrame =
    asofPurchaseViews(s, d)((p, v) =>
      graft.plans.NativeAsofJoin.backward(p, v, Seq("user_id"),
        "ts", "ts", payload = Seq("view_id", "view_value"),
        tiebreak = Seq("view_id")))

  /** The union+running-last DuckDB rendering (deterministic ties — not
    * DuckDB's ASOF JOIN syntax), shared verbatim by d10 and d11. */
  private val asofOracleSql =
    """WITH u AS (
      |  SELECT user_id, ts, 1 AS side, event_id,
      |         NULL::BIGINT AS ord, NULL::BIGINT AS v_id,
      |         NULL::DOUBLE AS v_val
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 0, NULL, event_id, event_id, value
      |  FROM events WHERE event_type = 'view'),
      |w AS (
      |  SELECT *,
      |    last_value(v_id IGNORE NULLS) OVER win AS view_id,
      |    last_value(v_val IGNORE NULLS) OVER win AS m_val
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, ord
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id,
      |       epoch_ns(ts) // 1000000000 AS purchase_epoch,
      |       view_id, round(m_val, 2) AS view_value
      |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin

  val entries: Seq[Q] = Seq(
    Q("d10_asof_join", d10, Some(asofOracleSql)),
    Q("d11_asof_sliced", d11, Some(asofOracleSql)),
    Q("d12_interval_join", d12, Some(rangeJoinOracleSql)),
    Q("d13_bloom_semi_join", d13, Some(bloomJoinOracleSql)),
    Q("d16_salted_join", d16, Some(saltedJoinOracleSql)),
    Q("d14_asof_forward", d14, Some(asofForwardOracleSql)),
    Q("d15_asof_tolerance", d15, Some(asofToleranceOracleSql)),
    Q("d17_asof_native", d17, Some(asofOracleSql)),
    Q("a13_geojson_sink", a13,
      Some(s"""WITH v AS (SELECT c_custkey, ${Synth.latvLonvSql("c_custkey")},
              |  round(${Synth.latSql.format("c_custkey")}, 2) AS rlat,
              |  round(${Synth.lonSql.format("c_custkey")}, 2) AS rlon
              |  FROM customer)
              |SELECT c_custkey,
              |  '{"type":"Feature","geometry":{"type":"Point","coordinates":['
              |  || rlon || ',' || rlat || ']},"properties":{"opr_id":"'
              |  || (${Synth.olcSql(6)}) || ',s' || c_custkey || '"}}' AS feature_json
              |FROM v ORDER BY c_custkey""".stripMargin)),
    Q("k1_sql_surface", k1,
      Some(s"""WITH v AS (SELECT p_partkey, p_name, p_type,
              |  ${Synth.latvLonvSql("p_partkey")} FROM part)
              |SELECT p_partkey,
              |  lower(regexp_replace(p_name, '[ -]', '', 'g')) AS simple_name,
              |  coalesce(nullif(split_part(p_type, ';', 1), ''),
              |           nullif(split_part(p_name, ';', 1), '')) AS first_ne,
              |  (${Synth.olcSql(6)}) AS tile
              |FROM v ORDER BY p_partkey""".stripMargin)),
    Q("e2_images_count", e2,
      Some("""SELECT o_custkey AS key,
             |  CAST(count(*) AS INT) AS total_images,
             |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS INT) AS review_cnt
             |FROM orders GROUP BY o_custkey ORDER BY key""".stripMargin)),
    Q("h2_op_batching", h2,
      Some("""WITH t AS (
             |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
             |  FROM orders)
             |SELECT rn // 4000 AS block_id, rn // 250 AS op_id,
             |  count(*) AS batch_size, min(o_orderkey) AS first_key,
             |  max(o_orderkey) AS last_key
             |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("g13_distance_sort", g13,
      Some(s"""SELECT c_custkey,
              |  round(${Synth.havSql(Synth.latSql.format("c_custkey"),
                Synth.lonSql.format("c_custkey"), "48.15", "17.12")}, 1) AS dist_m
              |FROM customer ORDER BY dist_m, c_custkey LIMIT 20""".stripMargin)),
  )
}
