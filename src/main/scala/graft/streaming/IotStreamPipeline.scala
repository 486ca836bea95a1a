package graft.streaming

import graft.operators.TimeAgg
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** The reference pipeline re-expressed as Structured Streaming.
  *
  * Reference flow (reference: README.md "Pipeline & Storage Layers",
  * dags/iot_master_dag.py): Mongo change feed → dlt extract/flatten →
  * TimescaleDB raw → dbt stage → dbt agg, scheduled by Airflow.
  * Spark-first this collapses to ONE continuously-running query per
  * layer: readStream over the landing zone, the stage projection, a
  * watermarked windowed aggregation (the daily/weekly rollups become
  * window aggs whose state Spark manages), and an idempotent
  * foreachBatch upsert into the warehouse (the TimescaleDB sink role;
  * JDBC in production, parquet here — the container has no database).
  */
object IotStreamPipeline {

  /** Landing-zone source (files play the Mongo change feed; in
    * production, point the connector at the live collection —
    * [[graft.sources.MongoConnectorSource]] builds the option map and
    * incremental-cursor pipeline, and `spark.readStream
    * .format("mongodb")` consumes the change stream with the same
    * namespace options). The raw event documents follow the batch
    * loader's `events` contract. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(Tables.schemas("events")).parquet(path)

  /** Stage layer: typing + derived period keys (streaming-safe
    * projection, no shuffle). */
  def stage(raw: DataFrame): DataFrame =
    raw.select(col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts"),
      TimeAgg.dayKey(col("ts")).as("day"),
      get_json_object(col("props"), "$.k").cast(IntegerType).as("prop_k"))

  /** Agg layer: watermarked windowed rollup — the streaming analog of
    * agg/daily_steps.sql. State is bounded by the watermark horizon. */
  def windowedAgg(stage: DataFrame, windowLen: String, watermark: String): DataFrame =
    stage
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("user_id"), col("event_type"))
      .agg(sum("value").as("value_sum"), count(lit(1)).as("n_events"))

  /** Warehouse sink: idempotent per-batch upsert keyed on the grouping
    * key — the TimescaleDB-hypertable role. Parquet-partitioned here;
    * the foreachBatch body is where a JDBC `INSERT ... ON CONFLICT`
    * would go in production. */
  def sinkToWarehouse(agg: DataFrame, outPath: String,
                      checkpoint: String): DataStreamWriter[Row] =
    agg.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outPath)
      }

  /** Warehouse sink over JDBC: the production spelling of
    * [[sinkToWarehouse]] — each micro-batch lands through
    * [[graft.sources.JdbcUpsert]]'s `INSERT ... ON CONFLICT` executor,
    * so foreachBatch's at-least-once replays converge (idempotent by
    * `versionCol`), the TimescaleDB-hypertable contract of the
    * reference. `connect` runs on executors. */
  def sinkToJdbc(agg: DataFrame, table: String, keyCols: Seq[String],
                 versionCol: Option[String], checkpoint: String,
                 batchSize: Int = 500)
                (connect: () => java.sql.Connection): DataStreamWriter[Row] =
    agg.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(graft.sources.JdbcUpsert.foreachBatchSink(
        table, keyCols, versionCol, batchSize)(connect))

  /** dlt-style primary-key dedup on the stream: re-delivered event ids
    * within the watermark horizon are dropped once state allows eviction
    * — the streaming analog of the reference extractor's incremental
    * `unique_key` landing (reference: dags/dlt_sources/mongodb,
    * primary_key on the collection cursor). */
  def dedupStream(stage: DataFrame, watermark: String): DataFrame =
    stage.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: join the event stream against a slowly-
    * changing dimension (the reference example joins metrics to the
    * users dim via devices — reference:
    * dags/dbt_project/models/examples/daily_user_steps_for_last_month.sql).
    * The static side is broadcast and RE-RESOLVED per micro-batch, so a
    * dimension refresh (new parquet snapshot) is picked up without
    * restarting the query — no stream state involved. */
  def enrichWithDim(stage: DataFrame, dim: DataFrame, key: String): DataFrame =
    stage.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join: each left event matched with right
    * events of the same user within `(l.ts, l.ts + maxDelay]` — the
    * attribution/enrichment join (view → subsequent click). Watermarks
    * on BOTH sides + the time-range predicate bound the join state
    * Spark must hold, which is what makes this runnable indefinitely at
    * scale (an unbounded stream-stream join would accumulate state
    * forever); state is keyed and partitioned by `user_id`. */
  def intervalJoin(left: DataFrame, right: DataFrame, watermark: String,
                   maxDelay: String): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r, expr(
      s"""l.user_id = r.user_id AND
         |r.ts > l.ts AND r.ts <= l.ts + interval $maxDelay""".stripMargin))
      .select(col("l.user_id").as("user_id"),
        col("l.event_id").as("left_event_id"), col("l.ts").as("left_ts"),
        col("r.event_id").as("right_event_id"), col("r.ts").as("right_ts"),
        col("r.value").as("right_value"))
  }

  case class Scd2State(eventType: String, validFrom: java.sql.Timestamp,
                       openEventId: Long)
  case class Scd2Out(user_id: Long, event_type: String,
                     valid_from: java.sql.Timestamp,
                     valid_to: Option[java.sql.Timestamp],
                     is_current: Boolean, open_event_id: Long)

  /** STREAMING type-2 SCD maintenance — the continuous analog of
    * [[graft.operators.Incremental.scd2]] (the dbt-snapshot role the
    * reference re-runs on every Airflow cycle; a change stream keeps
    * the same table current instead of recomputing it).
    *
    * Per key, state holds only the OPEN interval. A change whose
    * tracked attribute differs from the open state emits TWO rows —
    * the now-closed interval (`valid_to` = new change's ts,
    * `is_current` false) and the new open one — keyed by
    * `(user_id, valid_from, open_event_id)` so an idempotent upsert
    * sink ([[sinkToJdbc]] / [[graft.sources.JdbcUpsert]]) converges the
    * maintained table to exactly the batch `scd2` output; an interval
    * superseded WITHIN a micro-batch is emitted once, in its final
    * version (`open_event_id` keeps two state flips at one timestamp —
    * a zero-length interval — from colliding on the upsert key, the
    * same two rows the batch operator keeps). Same-attribute changes
    * emit nothing, like the batch `lag`-filter.
    *
    * Rows are ordered (ts, event_id) within a batch; ACROSS batches
    * the stream must deliver each key's changes in cursor order — the
    * contract a CDC/change-stream source ([[graft.sources
    * .MongoConnectorSource]] cursor, Mongo change streams) provides.
    * Out-of-order arrivals across batches would need interval
    * splitting, which is a rebuild, not maintenance. State is one
    * small case class per key — bounded by key cardinality, not
    * history length (history lives in the sink table). */
  def scd2Stream(changes: DataFrame): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    val typed = changes.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[Scd2State]) =>
          val evs = rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          // last emitted version per interval key wins within the batch
          val out = scala.collection.mutable.LinkedHashMap
            .empty[(java.sql.Timestamp, Long), Scd2Out]
          var st = state.getOption.orNull
          evs.foreach { case (_, ts, eid, tpe) =>
            if (st == null) {
              st = Scd2State(tpe, ts, eid)
              out((ts, eid)) = Scd2Out(uid, tpe, ts, None, is_current = true, eid)
            } else if (st.eventType != tpe) {
              out((st.validFrom, st.openEventId)) = Scd2Out(uid, st.eventType,
                st.validFrom, Some(ts), is_current = false, st.openEventId)
              st = Scd2State(tpe, ts, eid)
              out((ts, eid)) = Scd2Out(uid, tpe, ts, None, is_current = true, eid)
            }
          }
          if (st != null) state.update(st)
          out.values.iterator
      }.toDF()
  }

  /** Declarative streaming sessionization via Spark's NATIVE
    * `session_window` — the preferred scale path: the state store keeps
    * merge-capable session state per (user, window), the watermark
    * evicts and finalizes closed sessions, and there is no per-group
    * user code to deserialize rows through (contrast [[sessionize]],
    * the explicit-state spelling kept for semantics Spark's windows
    * can't express). Append mode emits a session once the watermark
    * passes `last event + gap`. Output shape matches
    * [[graft.operators.Sessionize.summarize]]: first/last EVENT bounds
    * (not the gap-padded window end), count, value sum.
    *
    * Boundary nit, documented: `session_window` starts a NEW session at
    * an event landing exactly `gap` after the previous one, while the
    * batch operator's `> gap` test keeps it — sub-second event times
    * make exact-boundary gaps measure-zero in practice. */
  def sessionizeNative(stage: DataFrame, gapSeconds: Long,
                       watermarkDelay: String = "0 seconds"): DataFrame =
    stage.withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value")).as("value_sum"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("value_sum"))

  case class SessionState(start: Long, last: Long, n: Long, valueSum: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long,
                        value_sum: Double)

  /** Streaming sessionization with custom state — emits a session when
    * `gapSeconds` of inactivity elapse (event-time, driven by incoming
    * batches). The stateful analog of operators.Sessionize. */
  def sessionize(stage: DataFrame, gapSeconds: Long): DataFrame = {
    val spark = stage.sparkSession
    import spark.implicits._
    val typed = stage.select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[SessionState]) =>
          val evs = rows.toSeq.sortBy(_._2.getTime)
          var st = state.getOption.orNull
          val out = Seq.newBuilder[SessionOut]
          evs.foreach { case (_, ts, v) =>
            val t = ts.getTime
            if (st == null) st = SessionState(t, t, 1, v)
            else if (t - st.last > gapSeconds * 1000) {
              out += SessionOut(uid, new java.sql.Timestamp(st.start),
                new java.sql.Timestamp(st.last), st.n, st.valueSum)
              st = SessionState(t, t, 1, v)
            } else st = st.copy(last = math.max(st.last, t), n = st.n + 1,
              valueSum = st.valueSum + v)
          }
          if (st != null) state.update(st)
          out.result().iterator
      }.toDF()
  }

  case class SilenceState(lastTs: Long, nEvents: Long)
  case class SilenceAlert(user_id: Long, last_seen: java.sql.Timestamp,
                          n_events: Long)

  /** Dead-device detection — the monitoring alert every IoT warehouse
    * pairs with its rollups: emit ONE alert row when a device goes
    * silent for more than `gapSeconds` of EVENT TIME. This is the
    * timeout side of the state-store API ([[sessionize]] and
    * [[scd2Stream]] only ever react to arriving rows; a silent key
    * never calls them again) — `EventTimeTimeout` + watermark makes
    * absence itself the trigger: state carries (last seen, count), the
    * timeout is re-armed at `last + gap` on every arrival, and when the
    * WATERMARK (driven by other, still-alive keys) passes that deadline
    * with no new rows, Spark invokes the group once more with
    * `hasTimedOut` and the alert is emitted + state cleared (a device
    * that resumes later simply starts a fresh state — re-appearance
    * after an alert is a new lifecycle, like any paging system). State
    * is bounded by LIVE keys: alerted keys are dropped. */
  def silenceAlerts(stage: DataFrame, gapSeconds: Long,
                    watermarkDelay: String = "0 seconds"): DataFrame = {
    val spark = stage.sparkSession
    import spark.implicits._
    val typed = stage.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SilenceState, SilenceAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[SilenceState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(SilenceAlert(uid,
              new java.sql.Timestamp(st.lastTs), st.nEvents))
          } else {
            val prev = state.getOption.getOrElse(SilenceState(Long.MinValue, 0L))
            var last = prev.lastTs; var n = prev.nEvents
            rows.foreach { case (_, ts) =>
              last = math.max(last, ts.getTime); n += 1
            }
            state.update(SilenceState(last, n))
            // a deadline already behind the watermark (late/buffered
            // readings, or cross-device event-time skew within one
            // batch) would make Spark fail the WHOLE query with
            // "timeout timestamp cannot be earlier than watermark" —
            // clamp the re-arm just past it so the alert fires on the
            // next watermark advance instead
            state.setTimeoutTimestamp(
              math.max(last + gapSeconds * 1000,
                state.getCurrentWatermarkMs + 1))
            Iterator.empty
          }
      }.toDF()
  }

  case class TwaState(lastTs: Long, lastV: Double, num: Long, dur: Long, n: Long)
  case class TwaOut(user_id: Long, day: String, tw_avg: Option[Double],
                    n_readings: Long)

  /** Continuous `time_weighted_average` maintenance — the streaming
    * analog of [[graft.operators.TimeAgg.timeWeightedAvg]], closing the
    * hyperfunction trio with [[counterDeltaStream]]: state per
    * (user, day) is (last reading, its timestamp, running Σ fixed(v)·Δµs
    * and ΣΔµs); each arrival closes the PREVIOUS reading's hold
    * interval and the updated running average is emitted for a keyed
    * upsert. Identical fixed-point numerator as batch, so the
    * maintained table equals the batch rollup row-for-row
    * (spec-asserted); zero-span groups report NULL exactly like batch.
    * Cross-batch ordering relies on the cursor-order delivery contract
    * ([[scd2Stream]]). */
  def timeWeightedStream(stage: DataFrame, scale: Int = 4): DataFrame = {
    val spark = stage.sparkSession
    import spark.implicits._
    val p = math.pow(10, scale)
    val typed = stage
      .select(col("user_id"),
        date_format(col("ts"), "yyyyMMdd").as("day"),
        col("ts"), col("event_id"), col("value"))
      .as[(Long, String, java.sql.Timestamp, Long, Double)]
    typed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[TwaState, TwaOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((uid, day), rows, state: GroupState[TwaState]) =>
          val evs = rows.toSeq.sortBy(r => (r._3.getTime, r._3.getNanos, r._4))
          var st = state.getOption.orNull
          evs.foreach { case (_, _, ts, _, v) =>
            // event-time µs on the same grid as unix_micros (ns floored)
            val tu = ts.getTime * 1000L + ts.getNanos / 1000L % 1000L
            st =
              if (st == null) TwaState(tu, v, 0L, 0L, 1L)
              else {
                val d = tu - st.lastTs
                TwaState(tu, v,
                  st.num + math.floor(st.lastV * p + 0.5).toLong * d,
                  st.dur + d, st.n + 1)
              }
          }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            val twa =
              if (st.dur > 0)
                Some(math.floor(st.num.toDouble / p / st.dur.toDouble
                  * p + 0.5) / p)
              else None
            Iterator.single(TwaOut(uid, day, twa, st.n))
          }
      }.toDF()
  }

  case class CandleOut(user_id: Long, day: String, open: Double, high: Double,
                       low: Double, close: Double, n_readings: Long)

  /** Continuous candlestick (OHLC) maintenance — B27's streaming
    * analog, and deliberately the DECLARATIVE one: `min_by`/`max_by`/
    * `min`/`max`/`count` are all partial-aggregable, so unlike the
    * path-dependent counter/TWA/state_agg maintenances (I11/I13/I16,
    * which need `flatMapGroupsWithState`), the state store can fold
    * candidates in ANY arrival order with zero user state code — a
    * plain update-mode streaming aggregation. Emitted rows upsert
    * keyed on (user, day); no watermark by design (a late reading must
    * still update its day's candle — the state is bounded by (entity,
    * day) keys either way, and a production caller that prefers
    * finalized candles adds `withWatermark` + append mode). */
  def candlestickStream(stage: DataFrame): DataFrame =
    stage
      .groupBy(col("user_id"), date_format(col("ts"), "yyyyMMdd").as("day"))
      .agg(min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_readings"))

  case class HistBinOut(event_type: String, day: String, bin: Long, cnt: Long)

  /** Continuous percentile maintenance (I19) — the streaming half of
    * the B31 continuous-aggregate story, and like I17 deliberately the
    * DECLARATIVE path: [[graft.operators.Sketches.histBinCounts]] IS
    * the streaming query (bin counts are plain distributive counts, so
    * the state store folds arrivals in any order with zero user state
    * code — update-mode agg, state bounded by touched (type, day, bin)
    * keys). Emitted rows upsert keyed on (type, day, bin); downstream,
    * [[graft.operators.Sketches.histMerge]] +
    * [[graft.operators.Sketches.histPercentilesFromBins]] read the
    * maintained table for always-current percentile estimates at ANY
    * coarser grain — raw readings are never re-read. The B31 batch
    * operator and this share one code path, so the two cannot drift. */
  def histBinsStream(stage: DataFrame, lo: Double, hi: Double,
                     nBins: Int): DataFrame =
    graft.operators.Sketches.histBinCounts(
      stage.withColumn("day", date_format(col("ts"), "yyyyMMdd")),
      Seq("event_type", "day"), col("value"), lo, hi, nBins)
      .select(col("event_type"), col("day"),
        col("__bin").as("bin"), col("__cnt").as("cnt"))

  case class StateAggState(lastTs: Long, lastState: String,
                           held: Map[String, Long], entries: Map[String, Long])
  case class StateAggOut(user_id: Long, event_type: String,
                         held_us: Long, n_entries: Long)

  case class UptimeState(lastUs: Long, closedUs: Long, dead: Long, n: Long)
  case class UptimeOut(user_id: Long, live_us: Long, n_dead: Long,
                       n_heartbeats: Long)

  /** Continuous `heartbeat_agg`/`uptime()` maintenance (I22) — the
    * streaming analog of [[graft.operators.TimeAgg.heartbeatUptime]],
    * closing the last hyperfunction without a continuous story: state
    * per entity is `(last heartbeat µs, live-µs over CLOSED intervals,
    * lapse count, heartbeat count)` — four longs, never event history.
    * Each arrival closes the previous heartbeat's liveness window
    * (`closed += min(Δ, gap)`, a lapse when Δ > gap), exactly the
    * batch operator's per-pair accounting; the emitted row adds the
    * final heartbeat's full-`gap` credit (its window runs to completion
    * unobserved — the batch contract), which the NEXT arrival replaces
    * with the closed-interval truth, so the maintained table equals
    * batch row-for-row at every quiescent point (spec-asserted).
    * Cross-batch ordering relies on the cursor-order delivery contract
    * ([[scd2Stream]]). */
  def uptimeStream(stage: DataFrame, gapSeconds: Long): DataFrame = {
    val spark = stage.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val typed = stage
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[UptimeState, UptimeOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UptimeState]) =>
          val evs = rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          var st = state.getOption.orNull
          evs.foreach { case (_, ts, _) =>
            val tu = ts.getTime * 1000L + ts.getNanos / 1000L % 1000L
            st =
              if (st == null) UptimeState(tu, 0L, 0L, 1L)
              else {
                val d = tu - st.lastUs
                UptimeState(tu, st.closedUs + math.min(d, gapUs),
                  st.dead + (if (d > gapUs) 1L else 0L), st.n + 1)
              }
          }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            Iterator.single(
              UptimeOut(uid, st.closedUs + gapUs, st.dead, st.n))
          }
      }.toDF()
  }

  /** Continuous `state_agg` maintenance — the streaming analog of
    * [[graft.operators.TimeAgg.stateAgg]], completing the hyperfunction
    * maintenance trio (I11 counter, I13 time-weighted, this): state per
    * entity is (last event's µs + state, per-state held-µs and
    * entry-count maps — bounded by the observed state vocabulary, not
    * event count); each arrival closes the PREVIOUS event's hold
    * interval, and only the states touched this batch re-emit their
    * updated row for an idempotent (user, state)-keyed upsert. Same
    * closed-intervals-only accounting as batch (the open interval holds
    * nothing until the next arrival closes it), so the maintained table
    * equals the batch rollup row-for-row (spec-asserted). Cross-batch
    * ordering relies on the cursor-order delivery contract
    * ([[scd2Stream]]). */
  def stateAggStream(stage: DataFrame): DataFrame = {
    val spark = stage.sparkSession
    import spark.implicits._
    val typed = stage
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[StateAggState, StateAggOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[StateAggState]) =>
          val evs = rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          var st = state.getOption.orNull
          val touched = scala.collection.mutable.Set.empty[String]
          evs.foreach { case (_, ts, _, s0) =>
            // event-time µs on the same grid as unix_micros (ns floored)
            val tu = ts.getTime * 1000L + ts.getNanos / 1000L % 1000L
            st =
              if (st == null)
                StateAggState(tu, s0, Map.empty, Map(s0 -> 1L))
              else {
                val d = tu - st.lastTs
                touched += st.lastState
                StateAggState(tu, s0,
                  st.held.updated(st.lastState,
                    st.held.getOrElse(st.lastState, 0L) + d),
                  st.entries.updated(s0, st.entries.getOrElse(s0, 0L) + 1L))
              }
            touched += s0
          }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            touched.iterator.map { s0 =>
              StateAggOut(uid, s0, st.held.getOrElse(s0, 0L),
                st.entries.getOrElse(s0, 0L))
            }
          }
      }.toDF()
  }

  case class CounterState(last: Double, deltaFixed: Long, resets: Long, n: Long)
  case class CounterOut(user_id: Long, day: String, counter_delta: Double,
                        n_resets: Long, n_readings: Long)

  /** Continuous `counter_agg` → `delta()` maintenance — the streaming
    * analog of [[graft.operators.TimeAgg.counterDelta]]: state is ONE
    * `(last reading, running fixed-point delta, resets, count)` per
    * (user, day), each batch folds its readings in (ts, event_id)
    * order, and the updated running row is emitted for an idempotent
    * keyed upsert sink — last write per key wins, exactly the
    * maintained-table contract of [[scd2Stream]]. Per-step deltas use
    * the SAME `floor(step·10^s + 0.5)` fixed-point accumulation as the
    * batch operator, so the maintained table equals the batch rollup
    * row-for-row (spec-asserted). Cross-batch ordering relies on the
    * cursor-order delivery contract a change-stream source provides
    * (see [[scd2Stream]]); state is bounded by live (user, day) keys,
    * not reading count. */
  def counterDeltaStream(stage: DataFrame, scale: Int = 4): DataFrame = {
    val spark = stage.sparkSession
    import spark.implicits._
    val p = math.pow(10, scale)
    val typed = stage
      .select(col("user_id"),
        date_format(col("ts"), "yyyyMMdd").as("day"),
        col("ts"), col("event_id"), col("value"))
      .as[(Long, String, java.sql.Timestamp, Long, Double)]
    typed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[CounterState, CounterOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((uid, day), rows, state: GroupState[CounterState]) =>
          val evs = rows.toSeq.sortBy(r => (r._3.getTime, r._3.getNanos, r._4))
          var st = state.getOption.orNull
          evs.foreach { case (_, _, _, _, v) =>
            st =
              if (st == null) CounterState(v, 0L, 0L, 1L)
              else {
                val step = if (v >= st.last) v - st.last else v
                val reset = if (v < st.last) 1L else 0L
                CounterState(v, st.deltaFixed + math.floor(step * p + 0.5).toLong,
                  st.resets + reset, st.n + 1)
              }
          }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            Iterator.single(
              CounterOut(uid, day, st.deltaFixed / p, st.resets, st.n))
          }
      }.toDF()
  }

  case class InstantRateState(prevFixed: Long, prevUs: Long,
                              hasPrev: Boolean, lastFixed: Long,
                              lastUs: Long, lastTs: java.sql.Timestamp)
  case class InstantRateOut(user_id: Long, last_ts: java.sql.Timestamp,
                            idelta: Option[Double],
                            irate_per_sec: Option[Double])

  /** Continuous instantaneous-rate maintenance (I35) — the streaming
    * analog of [[graft.operators.TimeAgg.instantRate]]: state per key
    * is exactly the LAST TWO readings (fixed-point values + µs
    * timestamps — two rows, never event count), each batch folds its
    * readings in (ts, event_id) order and the updated instant
    * delta/rate row emits for an idempotent keyed upsert. The
    * delta/rate arithmetic is operation-for-operation the batch
    * operator's (fixed-point subtraction, one double division, the
    * same `floor(x·10^s + 0.5)` round), so the maintained table equals
    * batch B40 row-for-row (spec-asserted). Cross-batch ordering
    * relies on the cursor-order delivery contract ([[scd2Stream]]). */
  def instantRateStream(stage: DataFrame, scale: Int = 6): DataFrame = {
    val spark = stage.sparkSession
    import spark.implicits._
    val p = math.pow(10, scale)
    val typed = stage
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[InstantRateState, InstantRateOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[InstantRateState]) =>
          val evs = rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          var st = state.getOption.orNull
          evs.foreach { case (_, ts, _, v) =>
            val tu = ts.getTime * 1000L + ts.getNanos / 1000L % 1000L
            val vf = math.floor(v * p + 0.5).toLong
            st =
              if (st == null) InstantRateState(0L, 0L, false, vf, tu, ts)
              else InstantRateState(st.lastFixed, st.lastUs, true, vf, tu, ts)
          }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            val idelta = if (!st.hasPrev) None
              else Some((if (st.lastFixed >= st.prevFixed)
                st.lastFixed - st.prevFixed else st.lastFixed) / p)
            Iterator.single(InstantRateOut(uid, st.lastTs, idelta,
              irateOf(st, p)))
          }
      }.toDF()
  }

  private def irateOf(st: InstantRateState, p: Double): Option[Double] =
    if (!st.hasPrev || st.lastUs <= st.prevUs) None
    else {
      val deltaFx = if (st.lastFixed >= st.prevFixed)
        st.lastFixed - st.prevFixed else st.lastFixed
      val x = (deltaFx / p) / ((st.lastUs - st.prevUs) / 1000000.0)
      Some(math.floor(x * 1000000.0 + 0.5) / 1000000.0)
    }

  case class FunnelProgState(anchorUs: Long, lastUs: Long, reached: Int)
  case class FunnelProgOut(user_id: Long, reached_step: Int, anchor_us: Long)

  /** Continuous conversion-funnel maintenance (I20) — the streaming
    * analog of [[graft.operators.Sessionize.funnel]]: state per entity
    * is the earliest-chain progress `(anchor, last completion, steps
    * reached)` — bounded by the STEP COUNT, never by event count. Each
    * batch folds its events in (ts, event_id) order; because batch
    * funnel semantics are earliest-chain, a greedy forward fold over
    * time-ordered events computes the identical chain. Events sharing
    * one timestamp advance the chain to FIXPOINT at that instant
    * (batch's `__ti >= __t` admits same-timestamp multi-step
    * advances, so click+purchase at the same second completes both).
    * Updated per-entity progress rows emit for an idempotent keyed
    * upsert; [[funnelProgressCounts]] rolls the maintained table up to
    * the batch operator's `(step, step_name, n_entities)` shape.
    * Cross-batch ordering relies on the cursor-order delivery contract
    * ([[scd2Stream]]). */
  def funnelStream(stage: DataFrame, steps: Seq[String],
                   windowSeconds: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = stage.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val typed = stage
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelProgState, FunnelProgOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[FunnelProgState]) =>
          // relevant events in time order; equal-timestamp events fold
          // as one instant (set of present step types)
          val evs = rows.filter(r => stepIdx.contains(r._4)).toSeq
            .sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          var st = state.getOption.orNull
          evs.groupBy(r => (r._2.getTime, r._2.getNanos)).toSeq.sortBy(_._1)
            .foreach { case ((ms, ns), group) =>
              val tu = ms * 1000L + ns / 1000L % 1000L
              val present = group.map(r => stepIdx(r._4)).toSet
              if (st == null && present.contains(0))
                st = FunnelProgState(tu, tu, 1)
              if (st != null) {
                // fixpoint at this instant: each completable next step
                // present here advances the chain (within the window)
                var advanced = true
                while (advanced && st.reached < steps.size) {
                  advanced = present.contains(st.reached) &&
                    tu >= st.lastUs &&
                    (tu - st.anchorUs) <= windowSeconds * 1000000L
                  if (advanced) st = FunnelProgState(st.anchorUs, tu,
                    st.reached + 1)
                }
              }
            }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            Iterator.single(FunnelProgOut(uid, st.reached, st.anchorUs))
          }
      }.toDF()
  }

  /** Roll a [[funnelStream]] maintained table up to the batch
    * operator's `(step, step_name, n_entities)` output: an entity that
    * reached step s counts toward every step ≤ s. Progress-table-sized
    * work (one row per funnel-entered entity). */
  def funnelProgressCounts(progress: DataFrame,
                           steps: Seq[String]): DataFrame = {
    val spark = progress.sparkSession
    import spark.implicits._
    val names = steps.zipWithIndex.map { case (n, i) => (i + 1, n) }
      .toDF("step", "step_name")
    progress
      .select(explode(sequence(lit(1), col("reached_step"))).as("step"))
      .groupBy(col("step")).agg(count(lit(1)).as("n_entities"))
      .join(names, Seq("step"))
      .select(col("step"), col("step_name"), col("n_entities"))
  }

  /** One retention-maintenance cycle (I21) — the foreachBatch body of
    * [[maintainRetention]], callable directly for scheduled batch
    * increments (the reference re-runs its agg models on a schedule —
    * reference: dags/iot_dwh_agg_transform_daily.py).
    *
    * State under `statePath` is the compact ACTIVITY LEDGER
    * `active_days` (distinct `(user_id, __day)` rows — the only
    * input-sized stage of batch C10, here built incrementally so raw
    * events are read once each) plus the `counts` table in
    * [[graft.operators.Sessionize.retentionCohorts]]'s output shape.
    * Each cycle: (1) collapse the batch to its distinct day pairs; (2)
    * anti-join the ledger — only genuinely new pairs survive; (3)
    * re-derive counts from ledger ∪ new through the SHARED
    * [[graft.operators.Sessionize.cohortCounts]] stage (ledger-sized,
    * calendar-bounded — never raw events) and overwrite `counts`; (4)
    * append the new pairs to the ledger. Idempotent under at-least-once
    * replay in EITHER crash order: a replayed batch's pairs either
    * still anti-join through (same union, same counts) or are already
    * in the ledger (empty delta, same counts). */
  def retentionCycle(batch: DataFrame, statePath: String): Unit = {
    val spark = batch.sparkSession
    val ledgerPath = s"$statePath/active_days"
    val hPath = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pairs = batch
      .select(col("user_id"), to_date(col("ts")).as("__day")).distinct()
    val ledger =
      if (fs.exists(hPath)) spark.read.parquet(ledgerPath)
      else pairs.limit(0)
    val fresh = pairs.join(ledger, Seq("user_id", "__day"), "left_anti")
      .localCheckpoint()
    if (fresh.isEmpty &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$statePath/counts"))) return
    val all = ledger.unionByName(fresh).localCheckpoint()
    graft.operators.Sessionize.cohortCounts(all, "user_id")
      .write.mode("overwrite").parquet(s"$statePath/counts")
    fresh.write.mode("append").parquet(ledgerPath)
  }

  /** Maintain C10 retention continuously: each micro-batch runs one
    * [[retentionCycle]]; `retentionCounts` reads the always-current
    * table. All state lives under `statePath`, so a restarted query
    * resumes from the checkpoint and replays converge. */
  def maintainRetention(stage: DataFrame, statePath: String,
                        checkpoint: String): DataStreamWriter[Row] =
    stage.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        retentionCycle(batch, statePath)
      }

  /** The maintained retention table (`(cohort_day, day_offset,
    * n_entities)` — batch C10's exact shape, spec-asserted equal). */
  def retentionCounts(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/counts")

  case class TransState(lastType: String, counts: Map[String, Long])
  case class TransOut(user_id: Long, prev_type: String, curr_type: String,
                      n: Long)

  /** Continuous event-path transition maintenance (I25) — the streaming
    * analog of [[graft.operators.Sessionize.transitions]]: state per
    * entity is its last event type plus the per-(prev, curr) transition
    * count map — bounded by the TYPE VOCABULARY squared, never by event
    * count. Each batch folds its events in (ts, event_id) order (the
    * exact order the batch lag window imposes) and only the pairs
    * touched this batch re-emit their updated `(entity, prev, curr, n)`
    * row for an idempotent keyed upsert ([[stateAggStream]]'s
    * discipline); [[transitionTotals]] rolls the maintained table to
    * batch C11's `(prev_type, curr_type, n_transitions, n_entities)`
    * shape — maintained-table-sized, never raw events. Cross-batch
    * ordering relies on the cursor-order delivery contract
    * ([[scd2Stream]]). */
  def transitionsStream(stage: DataFrame): DataFrame = {
    val spark = stage.sparkSession
    import spark.implicits._
    val typed = stage
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[TransState]) =>
          val evs = rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          var st = state.getOption.getOrElse(TransState(null, Map.empty))
          val touched = scala.collection.mutable.LinkedHashSet.empty[String]
          evs.foreach { case (_, _, _, ty) =>
            if (st.lastType != null) {
              val key = st.lastType + "\u0000" + ty
              st = TransState(ty,
                st.counts + (key -> (st.counts.getOrElse(key, 0L) + 1L)))
              touched += key
            } else st = TransState(ty, st.counts)
          }
          if (evs.isEmpty) Iterator.empty
          else {
            state.update(st)
            touched.iterator.map { key =>
              // limit-2 split on the regex-escaped delimiter: src is
              // "(start)" or a validated type (the entry require keeps
              // the delimiter out of every component), and the limit
              // means a pathological key still yields exactly two parts
              // instead of a MatchError mid-batch (r15 ADVICE)
              val Array(prev, curr) = key.split("\\u0000", 2)
              TransOut(uid, prev, curr, st.counts(key))
            }
          }
      }.toDF()
  }

  /** Roll the I25 maintained per-entity transition table to batch
    * C11's corpus shape. */
  def transitionTotals(maintained: DataFrame): DataFrame =
    maintained.groupBy(col("prev_type"), col("curr_type"))
      .agg(sum(col("n")).as("n_transitions"),
        count(lit(1)).as("n_entities"))

  case class AttrState(touchUs: Long, touchType: String)
  case class AttrOut(user_id: Long, event_id: Long, touch_type: String)

  /** Continuous last-touch attribution (I26) — the streaming analog of
    * [[graft.operators.Sessionize.lastTouchAttribution]]: state per
    * entity is ONLY the most recent touch `(µs, type)` — two fields,
    * never event history. Each batch folds its events in (ts, event_id)
    * order: touches update the state, conversions emit their
    * attribution row `(entity, conversion event_id, credited type)`
    * keyed on the conversion's event id — so at-least-once replays of a
    * batch from the same state re-emit identical rows and the keyed
    * upsert converges. The greedy forward fold computes exactly the
    * batch operator's running `last(touch, ignoreNulls)` window.
    * [[attributionTotals]] rolls the maintained table to batch C12's
    * `(touch_type, n_conversions, n_converters)` shape. Cross-batch
    * ordering relies on the cursor-order delivery contract
    * ([[scd2Stream]]). */
  def attributionStream(stage: DataFrame, touchTypes: Seq[String],
                        conversionType: String,
                        lookbackSeconds: Long): DataFrame = {
    val spark = stage.sparkSession
    import spark.implicits._
    val touches = touchTypes.toSet
    val lookbackUs = lookbackSeconds * 1000000L
    val typed = stage
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[AttrState, AttrOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[AttrState]) =>
          val evs = rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          var st = state.getOption.getOrElse(AttrState(Long.MinValue, null))
          val out = scala.collection.mutable.ArrayBuffer.empty[AttrOut]
          evs.foreach { case (_, ts, eid, ty) =>
            val tu = ts.getTime * 1000L + ts.getNanos / 1000L % 1000L
            if (touches(ty)) st = AttrState(tu, ty)
            else if (ty == conversionType) {
              val credited =
                if (st.touchType != null && tu - st.touchUs <= lookbackUs)
                  st.touchType
                else "(unattributed)"
              out += AttrOut(uid, eid, credited)
            }
          }
          if (evs.nonEmpty) state.update(st)
          out.iterator
      }.toDF()
  }

  /** Roll the I26 maintained attribution table to batch C12's corpus
    * shape. */
  def attributionTotals(maintained: DataFrame): DataFrame =
    maintained.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        countDistinct(col("user_id")).as("n_converters"))

  case class MkvState(converted: Boolean, lastType: String,
                      counts: Map[String, Long])
  case class MkvOut(user_id: Long, src: String, dst: String, n: Long)

  /** Continuous Markov-journey ledger (I53) — the streaming analog of
    * [[graft.operators.Sessionize.markovAttribution]]'s chain-building
    * stage: state per entity is (converted?, last type, per-(src, dst)
    * transition counts through the FIRST conversion) — states²-bounded,
    * never event history. Each batch folds its (type-filtered) events
    * in (ts, event_id) order exactly as the batch window family does:
    * every pre-conversion event adds one (prev-or-start → type) edge;
    * events after the first conversion are ignored (the batch
    * `__cb = 0` cut). Emits the touched transition rows with CUMULATIVE
    * counts keyed (user_id, src, dst) — the I25 upsert-convergence
    * discipline — plus one journey-terminal row keyed
    * (user_id, "(terminal)") whose dst is the current last type (or
    * "(converted)"), which [[markovTotals]] turns into the batch
    * operator's `type → (null)` unconverted-journey edges at read time.
    * Cross-batch ordering relies on the cursor-order delivery contract
    * ([[scd2Stream]]). */
  def markovJourneyStream(stage: DataFrame, touchTypes: Seq[String],
                          conversionType: String): DataFrame = {
    val spark = stage.sparkSession
    import spark.implicits._
    // State transition counts are keyed "src<U+0000>dst" (one string
    // keeps the MkvState encoder a plain Map[String, Long]); the join
    // is only reversible when no type name contains the delimiter —
    // enforce that HERE, loudly, instead of a MatchError deep in a
    // microbatch (r15 ADVICE). Only declared types enter the state
    // (the `relevant` filter), so this check covers every key ever
    // encoded; the decode below also splits with limit 2 so a bad key
    // could never crash the query even if this gate were bypassed.
    (touchTypes :+ conversionType).foreach(t =>
      require(!t.contains('\u0000'),
        s"markovJourneyStream type names must not contain U+0000 " +
          s"(it delimits the state ledger key): '${t.replace("\u0000", "\\u0000")}'"))
    val relevant = touchTypes.toSet + conversionType
    val typed = stage
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[MkvState, MkvOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[MkvState]) =>
          val evs = rows.toSeq.filter(r => relevant(r._4))
            .sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          if (evs.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(
              MkvState(converted = false, null, Map.empty))
            val touched = scala.collection.mutable.LinkedHashSet[String]()
            evs.foreach { case (_, _, _, ty) =>
              if (!st.converted) {
                val src = Option(st.lastType).getOrElse("(start)")
                val key = src + "\u0000" + ty
                st = MkvState(ty == conversionType, ty,
                  st.counts + (key -> (st.counts.getOrElse(key, 0L) + 1L)))
                touched += key
              }
            }
            state.update(st)
            touched.iterator.map { key =>
              // limit-2 split on the regex-escaped delimiter: src is
              // "(start)" or a validated type (the entry require keeps
              // the delimiter out of every component), and the limit
              // means a pathological key still yields exactly two parts
              // instead of a MatchError mid-batch (r15 ADVICE)
              val Array(src, dst) = key.split("\\u0000", 2)
              MkvOut(uid, src, dst, st.counts(key))
            } ++ Iterator.single(MkvOut(uid, "(terminal)",
              if (st.converted) "(converted)" else st.lastType, 1L))
          }
      }.toDF()
  }

  /** Roll the I53 maintained journey ledger to batch C23's
    * removal-effect report: transition rows re-sum to the corpus
    * matrix, unconverted terminal rows become the batch chain's
    * `type → (null)` edges, and the SAME states²-bounded integer-ppm
    * solve runs ([[graft.operators.Sessionize.markovSolve]] — one code
    * path, so the spellings cannot drift). */
  def markovTotals(maintained: DataFrame, touchTypes: Seq[String],
                   conversionType: String, iters: Int = 12): DataFrame = {
    val spark = maintained.sparkSession
    val trans = maintained.filter(col("src") =!= "(terminal)")
      .groupBy("src", "dst").agg(sum(col("n")).as("c"))
      .unionByName(maintained
        .filter(col("src") === "(terminal)" && col("dst") =!= "(converted)")
        .groupBy(col("dst")).agg(count(lit(1)).as("c"))
        .select(col("dst").as("src"), lit("(null)").as("dst"), col("c")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    graft.operators.Sessionize.markovSolve(
      spark, trans, touchTypes, conversionType, iters)
  }
}
