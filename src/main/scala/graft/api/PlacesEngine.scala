package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.geo.GeoFunctions

/** The reference's public query surface as a Spark-native API (SURVEY §3):
  * a user of the reference's HTTP endpoints calls these methods instead,
  * over the two core tables.
  *
  *   - `places`: current snapshots — `id array<string>` (= [tileid6,
  *     suffix]), `tileid`, `placetype`, `source_osm
  *     array<struct{id,type,lat,lon,osm_tag,osm_value,tags,deleted}>`,
  *     `images map<string,array<struct<...>>>` (optional), `deleted`
  *     (place tombstone ts; SURVEY §1.2 dual-deleted trap: the per-source
  *     `deleted` lives INSIDE source_osm elements).
  *   - `operations`: the op log — `block_id`, `op_ord`, `block_date`,
  *     `op_type`, `created array<struct{id,tileid}>`, `edited
  *     array<struct{id, change map<string,string>}>`, `deleted
  *     array<array<string>>`.
  *
  * Scale notes: store `places` partitioned by a tileid prefix
  * (TileLayoutSpec layout) so `geoTile` is partition pruning; `operations`
  * partitioned by block date so `history` prunes to the window. Every
  * method but `clusterHistory` returns a lazy DataFrame — composition stays
  * in Catalyst. `clusterHistory` runs ConnectedComponents' jobs when it is
  * called and keeps two caches (its points and `GeoJoins.pairsWithin`'s
  * input) past the call.
  */
final class PlacesEngine(places: DataFrame, operations: DataFrame) {

  /** B2: first live (not source-tombstoned, has coords+value) OSM source,
    * else first source — the reference's getMainOsmFromList
    * (MergeUtil.java:209-229). */
  private def mainOsm: Column = {
    val live = filter(col("source_osm"), o =>
      o.getField("deleted").isNull && o.getField("lat").isNotNull &&
        o.getField("osm_value").isNotNull)
    // try_element_at: ANSI-safe on places whose live-source set is empty
    coalesce(try_element_at(live, lit(1)), try_element_at(col("source_osm"), lit(1)))
  }

  /** §3.1 `GET /geo/data?tileid=` — tombstone-filtered feature projection
    * of one tile (B1/B2/B9/B11/E2). Param trimmed to the 6-char tile key
    * like BaseOprPlaceDataProvider.java:343-349. */
  def geoTile(tileId: String): DataFrame = {
    val t6 = tileId.take(6)
    places.where(col("tileid") === t6 && col("deleted").isNull)
      .select(
        concat_ws(",", col("id")).as("opr_id"),
        col("placetype"),
        coalesce(mainOsm.getField("tags").getItem("name"),
          initcap(translate(col("placetype"), "_", " "))).as("title"),
        mainOsm.getField("lat").as("lat"),
        mainOsm.getField("lon").as("lon"),
        size(filter(col("source_osm"), o => o.getField("deleted").isNotNull))
          .as("deleted_osm_cnt"),
        coalesce(aggregate(map_values(col("images")), lit(0),
          (acc, imgs) => acc + size(imgs)), lit(0)).as("images_cnt"))
  }

  /** §3.1 serialization tail (A13): a tile as one GeoJSON FeatureCollection
    * string. */
  def geoTileJson(tileId: String): DataFrame =
    geoTile(tileId)
      .select(to_json(struct(
        lit("Feature").as("type"),
        struct(lit("Point").as("type"), array(col("lon"), col("lat")).as("coordinates"))
          .as("geometry"),
        struct(col("opr_id"), col("placetype"), col("title"),
          col("deleted_osm_cnt"), col("images_cnt")).as("properties"))).as("feature"))
      .agg(concat(lit("""{"type":"FeatureCollection","features":["""),
        concat_ws(",", collect_list(col("feature"))), lit("]}")).as("geojson"))

  /** E1 summary rollup — place counts per 4-char tile prefix with cell
    * centers (OprSummaryPlaceDataProvider.java:26-59). */
  def summary(): DataFrame =
    places.where(col("deleted").isNull)
      .groupBy(substring(col("tileid"), 1, 4).as("tile4"))
      .agg(count(lit(1)).as("places"))
      .select(col("tile4"), col("places"),
        GeoFunctions.olcCenterLat(col("tile4")).as("center_lat"),
        GeoFunctions.olcCenterLon(col("tile4")).as("center_lon"))

  /** §3.2 `GET /history/data?date=&date2=` — replay the op window into one
    * feature frame: created / edited / deleted objects with status, keyed
    * by tile (OprHistoryChangesProvider.java:148-164,249-320). Bounds are
    * inclusive-exclusive ISO dates.
    *
    * Like the reference's loop over the window, this is one scan: each op's
    * three arrays are reshaped to (id, tileid, status, change_keys) and
    * concatenated, and one `inline` emits the rows, created before deleted
    * before edited within an op. A null array contributes no rows. */
  def history(fromDate: String, toDate: String): DataFrame = {
    val ops = operations.where(
      col("block_date") >= to_timestamp(lit(fromDate)) &&
        col("block_date") < to_timestamp(lit(toDate)) &&
        col("op_type") === "opr.place")
    def row(id: Column, tileid: Column, status: Column, changeKeys: Column): Column =
      struct(id.as("id"), tileid.as("tileid"), status.as("status"),
        changeKeys.as("change_keys"))
    val noKeys = lit(null).cast("string")
    // concat is null if any argument is, so a missing kind reads as empty
    def rows(arr: String)(f: Column => Column): Column =
      coalesce(transform(col(arr), f), array())
    val created = rows("created")(o =>
      row(o.getField("id"), o.getField("tileid"), lit("CREATED"), noKeys))
    val deleted = rows("deleted")(id =>
      row(id, element_at(id, 1), lit("DELETED"), noKeys))
    // B5 change-key classification: a source tombstone edit
    // (source.osm[i].deleted=set) reads as the place being REMOVED from
    // the map; anything else is EDITED
    val edited = rows("edited") { e =>
      val keys = map_keys(e.getField("change"))
      row(e.getField("id"), element_at(e.getField("id"), 1),
        when(exists(keys, k => k.rlike("^source\\.osm\\[\\d+\\]\\.deleted$")), "REMOVED")
          .otherwise("EDITED"),
        array_join(array_sort(keys), ","))
    }
    ops.select(col("block_date"), col("block_id"), col("op_ord"),
      inline(concat(created, deleted, edited)))
  }

  /** Op-log replay: per-entity state as of `asOf` (exclusive) — the
    * reference reconstructs objects by replaying operations over the
    * superblock chain (ObjectsManager); here the whole reconstruction is
    * one pass over the pruned op window: group by id, last status wins in
    * (block_date, block_id, op_ord) order via a single max(struct(...)) —
    * no per-entity iteration, no window sort over the full log.
    *
    * Returns id, tileid (the tile of the latest op: a CREATED row carries
    * the op's `created.tileid`, later rows the id's first element, and the
    * two may differ), status (ACTIVE/REMOVED/DELETED), created_date (first
    * CREATED op), last_change, n_ops. */
  def snapshotAt(asOf: String): DataFrame = {
    val h = history("1970-01-01", asOf)
    h.groupBy(col("id"))
      .agg(
        max(struct(col("block_date"), col("block_id"), col("op_ord"),
          col("status"), col("tileid"))).as("last"),
        min(when(col("status") === "CREATED", col("block_date")))
          .as("created_date"),
        max(col("block_date")).as("last_change"),
        count(lit(1)).as("n_ops"))
      .select(col("id"), col("last.tileid").as("tileid"),
        when(col("last.status") === "DELETED", "DELETED")
          .when(col("last.status") === "REMOVED", "REMOVED")
          .otherwise("ACTIVE").as("status"),
        col("created_date"), col("last_change"), col("n_ops"))
  }

  /** §3.2 REVIEW_CLOSED_PLACES flavor: history REMOVED/DELETED features
    * that still need review — current place not tombstoned and main source
    * deleted (B6), minus ids already reviewed (H8 anti-join). */
  def reviewClosedPlaces(fromDate: String, toDate: String,
                         alreadyReviewed: DataFrame): DataFrame = {
    val closed = history(fromDate, toDate)
      .where(col("status").isin("REMOVED", "DELETED"))
    val current = places.where(col("deleted").isNull &&
        mainOsm.getField("deleted").isNotNull)
      .select(col("id"))
    closed.join(current, "id")
      .join(alreadyReviewed.select(col("id")), Seq("id"), "left_anti")
  }

  /** §3.3 MergePlaceBot pipeline over an ordered report-feature Dataset
    * (I1 group split → D4/D5 per-group tiered matching), delegated to the
    * merge job validated against the reference's June-2021 regression. */
  def mergeReport(features: org.apache.spark.sql.Dataset[
      graft.places.MergeReportJob.ReportFeature]): DataFrame =
    graft.places.MergeReportJob.run(features).toDF()

  /** D2/I2 clustering of a history window's features (the scalable form of
    * the reference's greedy 150 m grouping): proximity pairs from the
    * tile-bucketed distance join, components from the DataFrame-native
    * star-contraction ([[graft.geo.ConnectedComponents]]). Returns one row
    * per feature with its cluster's representative id: the `opr_id` of the
    * member whose `xxhash64(opr_id)` is smallest (deterministic, unlike the
    * reference's scan-order group leader; not the smallest id). Not lazy:
    * the component labelling runs its jobs at call time. */
  def clusterHistory(fromDate: String, toDate: String, radiusM: Double): DataFrame = {
    // graph nodes are 64-bit hashes of the opr id (ids are array<string>;
    // the hash keeps edges/labels fixed-width through the shuffles),
    // mapped back to the string id at the end
    val pts = history(fromDate, toDate)
      .join(places.select(col("id"), mainOsm.getField("lat").as("lat"),
        mainOsm.getField("lon").as("lon")), "id")
      .select(concat_ws(",", col("id")).as("opr_id"), col("lat"), col("lon"))
      .withColumn("node", xxhash64(col("opr_id")))
      .cache() // three consumers: edge build, label join, representative map
    val edges = graft.geo.GeoJoins.pairsWithin(
        pts.select(col("node").as("k"), col("lat"), col("lon")),
        "k", "lat", "lon", radiusM)
      .select(col("a_key").as("a"), col("b_key").as("b"))
    val labels = graft.geo.ConnectedComponents.label(
      pts.sparkSession, edges)
    val representative = pts.select(col("node").as("cluster_node"),
      col("opr_id").as("cluster_id"))
    pts.join(labels, Seq("node"), "left")
      .withColumn("cluster_node", coalesce(col("cluster"), col("node")))
      .join(representative, "cluster_node")
      .select(col("opr_id"), col("cluster_id"))
  }
}
