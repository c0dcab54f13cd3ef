package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

import graft.util.{Checkpoints, PartitionedState}

/** Structured-Streaming re-expression of the reference's micro-batch
  * incremental semantics (SURVEY §2 J): the OsmSyncBot diff-window loop
  * becomes a watermarked event-time stream; per-tile cache invalidation
  * becomes windowed aggregation; edit-dedup becomes dropDuplicates within
  * the watermark.
  *
  * All transforms take/return streaming Datasets so they compose with any
  * source (file, Kafka, MemoryStream in tests) and run identically in
  * batch mode.
  */
object EventStreams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionUpdate(user_id: Long, session_start: Timestamp,
                           n_events: Long, total_value: Double, closed: Boolean)

  case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)

  /** Tumbling-window counts per event type with a watermark — the
    * streaming form of the per-tile invalidation rollup
    * (BaseOprPlaceDataProvider.java:352-392). */
  def windowedCounts(events: Dataset[Event], windowLen: String = "1 hour",
                     watermark: String = "15 minutes"): DataFrame =
    events.toDF()
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("total_value"))

  /** Exactly-once-per-key dedup within the watermark — the streaming form
    * of C7 edit-dedup (OsmSyncBot.java:671-687). */
  def dedupWithinWatermark(events: Dataset[Event],
                           watermark: String = "15 minutes"): Dataset[Event] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .dropDuplicates("event_id").as[Event]
  }

  /** Gap-based sessionization with explicit state — the streaming form of
    * the order-sensitive grouping I2 (30-min inactivity gap), via
    * flatMapGroupsWithState with event-time timeout. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 watermark: String = "15 minutes"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(uid, new Timestamp(s.start), s.n, s.total, closed = true))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var out = List.empty[SessionUpdate]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  out ::= SessionUpdate(uid, new Timestamp(s.start), s.n, s.total, closed = true)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            out.reverseIterator
          }
      }
  }

  case class AsofUpdate(event_id: Long, user_id: Long, ts: Timestamp,
                        view_id: Option[Long], view_value: Option[Double])

  case class LatestView(ts: Long, viewId: Long, value: Double)

  /** Streaming backward as-of enrichment — the streaming form of
    * [[graft.operators.AsofJoin.backward]] (and the d10 catalog query):
    * every `purchase` event is emitted with the latest `view` event
    * at-or-before it for the same user. State is ONE row per key (the
    * current latest view) — O(|keys|), not O(|events|) — but with no
    * eviction that is still O(|distinct keys ever seen|): unbounded if
    * the key domain is. `stateTtl` bounds it: a key whose latest view
    * is older than the TTL past the watermark is evicted via an
    * EVENT-TIME timeout (wall clock never enters the semantics), at the
    * documented cost that a purchase arriving later than TTL after its
    * key's last view enriches as null — exactly the row the batch
    * operator WOULD have matched to the evicted view. The TTL DEFAULTS
    * ON (24 h): an always-on stream over an open key domain must not
    * grow state forever by omission. Running without eviction requires
    * the explicit `unboundedKeys = true` opt-in, the right call only
    * when key cardinality is bounded by construction (users of a
    * service, tiles of a map — the d10 catalog shape); resolution inside
    * a micro-batch sorts by (ts, side, id) exactly like the batch
    * operator (views before purchases at equal ts → inclusive match,
    * largest (ts, id) view wins ties).
    *
    * Parity contract (pinned in `EventStreamsSpec`): equal to the batch
    * operator whenever micro-batch boundaries respect the operator's
    * event-time order — a view never arrives in a LATER batch than a
    * purchase it should enrich (at equal ts that means the view's batch
    * is no later). The standard streaming as-of tradeoffs otherwise: a
    * late view cannot retro-enrich an already-emitted purchase, and a
    * late purchase arriving behind a newer view emits null (the stored
    * state is ahead of it) rather than the future view's payload.
    *
    * BREAKING DEFAULT (since the TTL-on change): `stateTtlMs` used to
    * default to `None`. Call sites that relied on the old default now
    * evict keys idle past 24 h — a purchase arriving later than that
    * enriches as null where it previously matched — and previously-legal
    * explicit `stateTtlMs = None` calls now throw unless they also pass
    * `unboundedKeys = true`. Audit call sites on upgrade rather than
    * discovering null enrichments at runtime. */
  def asofEnrichStream(events: Dataset[Event],
                       watermark: String = "15 minutes",
                       stateTtlMs: Option[Long] = Some(24L * 3600 * 1000),
                       unboundedKeys: Boolean = false): Dataset[AsofUpdate] = {
    import events.sparkSession.implicits._
    // unboundedKeys is the opt-OUT: it disables eviction entirely and
    // overrides any TTL, so the no-eviction posture is always a visible
    // choice at the call site, never a default
    val ttl = if (unboundedKeys) None else stateTtlMs
    require(ttl.isDefined || unboundedKeys,
      "stateTtlMs = None without unboundedKeys = true: an evictionless " +
        "stream over an open key domain grows state forever; pass a TTL " +
        "or opt in explicitly")
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LatestView, AsofUpdate](
        OutputMode.Append(), timeoutConf) {
        (uid: Long, rows: Iterator[Event], state: GroupState[LatestView]) =>
          if (state.hasTimedOut) {
            // TTL expiry: drop the key's latest-view row; nothing to emit
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e =>
              (e.ts.getTime, if (e.event_type == "view") 0 else 1, e.event_id))
            var cur = state.getOption
            val out = List.newBuilder[AsofUpdate]
            sorted.foreach { e =>
              if (e.event_type == "view") {
                val newer = cur.forall(c =>
                  c.ts < e.ts.getTime || (c.ts == e.ts.getTime && c.viewId < e.event_id))
                if (newer) cur = Some(LatestView(e.ts.getTime, e.event_id, e.value))
              } else if (e.event_type == "purchase") {
                // a late-but-within-watermark purchase must not be enriched
                // with a FUTURE view (state can be ahead of it): emit null
                // rather than data the batch operator could never produce
                val visible = cur.filter(_.ts <= e.ts.getTime)
                out += AsofUpdate(e.event_id, uid, e.ts,
                  visible.map(_.viewId), visible.map(_.value))
              }
            }
            cur.foreach { c =>
              state.update(c)
              // event-time timeout must be set at or after the current
              // watermark, so an already-stale view still gets one full
              // micro-batch of grace rather than an IllegalArgumentException
              ttl.foreach { t =>
                state.setTimeoutTimestamp(
                  math.max(c.ts + t, state.getCurrentWatermarkMs() + 1))
              }
            }
            out.result().iterator
          }
      }
  }

  case class FunnelState(reached: Int, lastT: Long)
  case class FunnelUpdate(user_id: Long, step_idx: Int, step: String,
                          ts: Timestamp)

  /** Incremental ordered funnel — the streaming form of
    * [[graft.pipeline.EventAnalytics.funnel]]'s first-touch chaining:
    * per user, a monotone state machine holding ONLY (steps reached,
    * completion ts); an event advances it when it is the next expected
    * step and strictly later than the previous completion, emitting one
    * [[FunnelUpdate]] per advance (step counts = a downstream
    * aggregation of the updates).
    *
    * Parity contract: identical to the batch funnel when each user's
    * events arrive in event-time order across micro-batches (within one
    * batch, rows are sorted by (ts, event_id) first, so intra-batch
    * disorder is free); an event arriving LATE, with a timestamp before
    * an already-made advance, is ignored — the chain never rewinds.
    * That is the standard streaming-funnel tradeoff, stated rather than
    * silent.
    *
    * State is evicted by event-time timeout once a user has been idle
    * past `stateTtlMs` beyond the watermark (the unbounded-key-domain
    * lesson from the as-of enrichment review): O(1) per active user,
    * nothing retained forever. */
  def funnelStream(events: Dataset[Event], steps: Seq[String],
                   watermark: String = "15 minutes",
                   stateTtlMs: Long = 24 * 3600 * 1000L): Dataset[FunnelUpdate] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
            val out = Seq.newBuilder[FunnelUpdate]
            rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              if (st.reached < steps.length &&
                  e.event_type == steps(st.reached) &&
                  e.ts.getTime > st.lastT) {
                st = FunnelState(st.reached + 1, e.ts.getTime)
                out += FunnelUpdate(uid, st.reached, e.event_type, e.ts)
              }
            }
            state.update(st)
            // TTL keys off EVENT time (watermark + ttl would read the
            // pre-first-batch watermark of 0 and evict live chains at
            // epoch+ttl — the asofEnrichStream convention), floored one
            // past the watermark so a stale chain gets a batch of grace
            // instead of an IllegalArgumentException
            val base = if (st.lastT == Long.MinValue) 0L else st.lastT
            state.setTimeoutTimestamp(
              math.max(base + stateTtlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Native stream-stream interval join — the attribution join: every
    * purchase paired with ALL views of the same user in the preceding
    * `windowMs` (many-to-many, unlike [[asofEnrichStream]]'s
    * latest-one-row state machine). This is Spark's watermarked
    * stream-stream inner join: the time-range condition plus the two
    * watermarks let the engine BOUND its own join state — a view is
    * evicted as soon as the purchase watermark passes `view_ts +
    * windowMs`, so state is O(events per window), never O(stream).
    * Inner joins emit eagerly (no watermark wait on the output path).
    * Self-joining one event stream into two roles is the supported
    * stream-self-join shape. */
  def attributionJoinStream(events: Dataset[Event],
                            watermark: String = "10 minutes",
                            windowMs: Long = 600000L): DataFrame = {
    val views = events.toDF()
      .where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"), col("value").as("view_value"))
      .withWatermark("view_ts", watermark)
    val purchases = events.toDF()
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(views,
        col("v_user") === col("p_user") &&
          col("view_ts") <= col("purchase_ts") &&
          col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMs MILLISECOND"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("view_id"), col("view_value"))
  }

  /** Per-tile incremental materialized view — the streaming form of the
    * reference's tile-targeted cache invalidation
    * (BaseOprPlaceDataProvider.java:352-392; history caches
    * OprHistoryChangesProvider.java:114-128): each micro-batch of place
    * ops (columns key, tile4, version, closed) last-wins-upserts a
    * tile4-partitioned place-state table, then rebuilds the per-tile
    * summary rows for ONLY the tiles the batch touched — the exact
    * invalidate-and-recompute the reference does per dirty tile, as
    * dynamic partition overwrite.
    *
    * The upsert is [[lastWinsUpsert]]: one aggregate per key over the
    * touched tiles' state ∪ the raw batch keeps the highest `version`
    * (the within-batch dedup and the state merge are the same pass), one
    * eager local checkpoint feeds both the state overwrite and the
    * summary, and the checkpoint is freed before the batch returns.
    *
    * Scale shape: a batch's cost is proportional to the state living in
    * its touched tiles, never the whole table; untouched tile partitions
    * are not read or rewritten. Replaying a batch rewrites the same
    * partitions to the same rows (idempotent: a version tie keeps the
    * greatest row, and a replayed row equals the stored one), so
    * checkpoint recovery is safe. The touched-tile list is the only
    * driver-side artifact and is bounded by the batch's distinct tiles.
    *
    * A state read fails loudly: only a state directory that does not
    * exist yet reads as empty. A corrupt or unreadable file in a touched
    * tile fails the batch, and so the query, instead of silently
    * resetting that tile. */
  def tileSummaryStream(ops: DataFrame, stateDir: String, summaryDir: String,
                        checkpointDir: String) = {
    ops.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val merged = lastWinsUpsert(batch, stateDir, "key", "version", "tile4")
        // invalidate-and-rebuild: summaries of exactly the touched tiles,
        // recomputed from the merged (complete) state of those tiles
        merged.groupBy("tile4")
          .agg(count(lit(1)).as("n_places"),
            sum(col("closed").cast("long")).as("n_closed"),
            max("version").as("max_version"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("tile4").parquet(summaryDir)
        Checkpoints.free(merged)
        ()
      }
      .start()
  }

  /** Micro-batch op application: fold each batch of edits into a
    * persistent state table via foreachBatch — the streaming form of the
    * C3/C4 write path with MERGE idempotence.
    *
    * The state table is hash-bucketed on the entity key
    * (`bucket = pmod(xxhash64(user_id), numBuckets)`) and each micro-batch
    * touches ONLY the buckets its keys hash into: [[lastWinsUpsert]] reads
    * those partitions, keeps the highest `event_id` per `user_id` in one
    * aggregate over state ∪ batch, and rewrites them with dynamic
    * partition overwrite. At 100 TB of state a batch's write cost is
    * proportional to the touched key range, not the table — and replaying
    * a batch rewrites the same buckets to the same rows (idempotent).
    * As in [[tileSummaryStream]], only a missing state directory reads as
    * empty; any other state-read error fails the query.
    *
    * `numBuckets` must stay constant for the lifetime of a state dir. */
  def applyOpsStream(edits: DataFrame, stateDir: String, checkpointDir: String,
                     numBuckets: Int = 64) = {
    edits.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bucketed = batch
          .withColumn("bucket", pmod(xxhash64(col("user_id")), lit(numBuckets.toLong)))
        Checkpoints.free(lastWinsUpsert(bucketed, stateDir, "user_id", "event_id", "bucket"))
        ()
      }
      .start()
  }

  /** Last-wins upsert of one micro-batch into a `part`-partitioned parquet
    * state table: per `key`, the row with the greatest `order` among the
    * stored rows of the batch's `part` values and the batch itself
    * survives; those partitions are then overwritten.
    *
    * The state is read with the batch's own schema and pruned to the
    * touched partitions by [[PartitionedState.readPruned]]: only a missing
    * table counts as empty state. The winner is
    * `max(struct(order, rest…))` in one aggregate, so a tie on `order`
    * keeps the greatest row deterministically; every non-key column must
    * therefore be orderable (no maps). The merged rows are materialized
    * once, BEFORE the write — the merge plan reads `stateDir`, and Spark
    * refuses to overwrite a path it is reading from in the same plan.
    *
    * @return the merged rows of the touched partitions, as an eager local
    *         checkpoint the caller frees with [[Checkpoints.free]]
    */
  private def lastWinsUpsert(batch: DataFrame, stateDir: String, key: String,
                             order: String, part: String): DataFrame = {
    val spark = batch.sparkSession
    // ≤ the batch's distinct partition values — a driver-side list, never the data
    val touched = batch.select(part).distinct().collect().map(_.get(0)).toSeq
    val state = PartitionedState.readPruned(spark, stateDir, batch.schema, part, touched)
    val fields = order +: batch.columns.filterNot(c => c == key || c == order).toSeq
    val merged = state.unionByName(batch)
      .groupBy(key)
      .agg(max(struct(fields.map(col): _*)).as("w"))
      .select(batch.columns.toSeq.map(c =>
        if (c == key) col(c) else col("w").getField(c).as(c)): _*)
      .localCheckpoint(eager = true)
    merged.write.mode("overwrite")
      // per-write option, not session config: only the partitions present
      // in `merged` are replaced
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(part).parquet(stateDir)
    merged
  }
}
