package graft.pipelines

import graft.operators.{Pins, Stage}
import graft.sources.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's MASTER-DAG cadence as one composable call
  * (reference: dags/iot_master_dag.py — every cycle: trigger extract →
  * trigger stage transform, with the agg DAGs chained downstream;
  * dags/iot_mongo_extract_to_dwh.py + iot_dwh_stage_tranform.py +
  * iot_dwh_agg_transform_daily.py). Airflow's contribution is cadence
  * + blind retries; the engine's contribution is that a cycle is
  * INCREMENTAL and IDEMPOTENT, so any scheduler (cron, a while-loop,
  * Airflow itself) can fire [[runCycle]] repeatedly and crashed or
  * duplicated runs converge to the same warehouse state.
  *
  * One cycle =
  *  1. EXTRACT an incremental slice of the raw landing: `cursorCol` ≥
  *     the stage watermark — the boundary row REPLAYS (`>=`, the
  *     dlt/[[graft.sources.MongoConnectorSource]] `$gte` contract) and
  *     the keyed upsert absorbs it, which is what makes
  *     equal-cursor ties at the watermark safe.
  *  2. STAGE: type + derive period keys ([[Stage.stageEvents]]), pin
  *     the slice once and MERGE-upsert it by `event_id` into the
  *     day-partitioned stage table — only touched partitions are read
  *     or rewritten. The slice's max cursor (the next watermark) is a
  *     `Dataset.observe` metric of that pin's pass, not an execution of
  *     its own; the pin is released once the merge has landed.
  *  3. AGG: [[Warehouse.refreshAggregate]] (inclusive watermark, so
  *     the replayed boundary's period re-aggregates too) rebuilds ONLY
  *     the periods the increment touched, from stage. The cadences
  *     write different tables and only read stage, so their refreshes
  *     run side by side, one thread each; a failing refresh is
  *     rethrown as itself once the others have finished.
  *
  * `cursorCol` must be MONOTONE over landing order (dlt's incremental
  * cursor is ingest order). It defaults to the event `ts`, which is a
  * correct cursor only when the landing appends in event-time order
  * (the reference generator's behavior); a landing with out-of-order
  * EVENT times must carry a real ingest column and name it here —
  * with cursor == event time, an event-time straggler sits below the
  * cursor and no incremental extract can see it. Late rows under a
  * proper cursor fold into their true period (the refresh re-aggregates
  * whatever periods the increment touches, not just the newest).
  *
  * The stage watermark persists in a `_graft_watermark` sidecar next
  * to the stage data (underscore-prefixed — invisible to parquet
  * readers), so reading it is one tiny file, never a history scan; if
  * the sidecar is missing (pre-existing table, manual surgery) the
  * watermark is recovered with a full `max(cursor)` probe once and
  * re-persisted.
  *
  * Cost per cycle: the extract, the stage merge and the daily slice
  * scale with the increment and its touched periods. The agg refreshes
  * do NOT all stay clear of warehouse history: stage is partitioned by
  * `day`, and each refresh's touched-period probe filters stage on the
  * cursor (a pushed-down data filter, no partition filter), so it
  * lists every stage file and reads each footer (row groups wholly
  * below the watermark are skipped); the weekly and monthly slices
  * semi-join stage on `week`/`month`, which are not partition columns,
  * so they get no partition pruning and read every stage file each
  * cycle (the executed plans show no partition filter on those scans;
  * only the daily slice prunes, by dynamic partition pruning on `day`).
  */
object IotBatchPipeline {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sidecar(stagePath: String) =
    new org.apache.hadoop.fs.Path(stagePath, "_graft_watermark")

  /** The stage table's extract cursor (the role of
    * macros/get_max_insert_timestamp.sql): the sidecar value when
    * present, else a one-off full-table recovery probe. None before
    * the first load. Timestamps round-trip the sidecar as
    * microsecond-precision instants. */
  def stageWatermark(spark: SparkSession, stagePath: String,
                     cursorCol: String): Option[java.sql.Timestamp] = {
    val f = fs(spark, stagePath)
    val side = sidecar(stagePath)
    if (f.exists(side)) {
      val in = f.open(side)
      val txt = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      Some(java.sql.Timestamp.from(java.time.Instant.parse(txt)))
    } else if (!f.exists(new org.apache.hadoop.fs.Path(stagePath))) None
    else Option(spark.read.parquet(stagePath).agg(max(col(cursorCol))).head()
      .get(0)).map(_.asInstanceOf[java.sql.Timestamp])
  }

  private def persistWatermark(spark: SparkSession, stagePath: String,
                               wm: java.sql.Timestamp): Unit = {
    val f = fs(spark, stagePath)
    val out = f.create(sidecar(stagePath), true)
    try out.write(wm.toInstant.toString.getBytes("UTF-8")) finally out.close()
  }

  /** One downstream aggregate cadence of the master DAG: `prepare`
    * derives the period key on stage rows (identity when the stage
    * already carries it), `aggregate` must emit `partitionCols` plus a
    * `last_ts` max-cursor column (the refresh watermark). */
  final case class AggCadence(aggPath: String, partitionCols: Seq[String],
                              prepare: DataFrame => DataFrame,
                              aggregate: DataFrame => DataFrame)

  /** Fixed-point value sum ([[graft.functions.Portable.fixedSum]]):
    * partition-order-independent, so a re-aggregated period is
    * byte-identical across retries — a plain double sum drifts in ULPs
    * with task order and would make idempotent refreshes rewrite
    * different bytes each run. */
  private def rollup(period: String, cursorCol: String)(
      slice: DataFrame): DataFrame =
    slice.groupBy(col("user_id"), col(period))
      .agg(graft.functions.Portable.fixedSum(col("value"), 4).as("value_sum"),
        count(lit(1)).as("n_events"),
        max(col(cursorCol)).as("last_ts"))

  /** The reference's three agg DAGs (`iot_dwh_agg_transform_daily.py`,
    * `..._weekly.py`, `..._monthly.py` — same stage input, one rollup
    * table per cadence). Day and month keys already live on the stage
    * rows; the week key is derived per refresh (cheap map-side
    * projection over the touched slice only). */
  def dailyCadence(aggPath: String, cursorCol: String = "ts"): AggCadence =
    AggCadence(aggPath, Seq("day"), identity, rollup("day", cursorCol))

  def weeklyCadence(aggPath: String, cursorCol: String = "ts"): AggCadence =
    AggCadence(aggPath, Seq("week"),
      _.withColumn("week", date_format(
        graft.operators.TimeAgg.weekBucket(col(cursorCol)), "yyyy-MM-dd")),
      rollup("week", cursorCol))

  def monthlyCadence(aggPath: String, cursorCol: String = "ts"): AggCadence =
    AggCadence(aggPath, Seq("month"), identity, rollup("month", cursorCol))

  /** One extract → stage → agg cycle over a raw `events`-shaped
    * landing frame, refreshing the single daily rollup — the reference
    * master DAG's minimal shape. Blindly re-runnable. */
  def runCycle(raw: DataFrame, stagePath: String, aggPath: String,
               cursorCol: String = "ts"): Unit =
    runCycles(raw, stagePath, Seq(dailyCadence(aggPath, cursorCol)), cursorCol)

  /** One extract → stage → agg cycle refreshing EVERY registered
    * cadence (the reference runs daily AND weekly AND monthly agg DAGs
    * off the same stage). Each refresh re-aggregates only the periods
    * the increment touched in ITS OWN period grain — a day of new data
    * rewrites one day, one week and one month partition. */
  def runCycles(raw: DataFrame, stagePath: String,
                cadences: Seq[AggCadence], cursorCol: String = "ts"): Unit = {
    val spark = raw.sparkSession
    // 1. extract: incremental slice, boundary replayed (>=) — the
    //    keyed stage upsert makes the replay harmless
    val prevWm = stageWatermark(spark, stagePath, cursorCol)
    val incoming = prevWm match {
      case Some(wm) => raw.filter(col(cursorCol) >= lit(wm))
      case None => raw
    }
    // 2. stage: typed projection + keyed merge into day partitions.
    //    The pin holds ONE snapshot of the slice: the merge and the
    //    watermark must see the same rows — two independent executions
    //    against a live/re-listed source could let the watermark see
    //    rows the merge never staged and advance past data that was
    //    never loaded (silent loss). The increment's max cursor rides
    //    the pin as an observed metric (bounded by the slice, never the
    //    table, and no execution of its own).
    val (staged, sliceRow) = Pins.pinObserved(Stage.stageEvents(incoming),
      "iot_slice", max(col(cursorCol)).as("slice_max"))
    Warehouse.mergeUpsert(staged, stagePath, partitionCols = Seq("day"),
      key = Seq("event_id"), versionCol = cursorCol)
    Pins.release(staged)
    val sliceMax = Option(sliceRow.get(0)).map(_.asInstanceOf[java.sql.Timestamp])
    (prevWm ++ sliceMax).reduceOption((a, b) => if (a.after(b)) a else b)
      .foreach(persistWatermark(spark, stagePath, _))
    // 3. agg: touched-period-only rollup refresh from stage, once per
    //    cadence. Inclusive watermark: the extract replays its
    //    boundary, so each refresh must re-aggregate the boundary
    //    period too — a strict delta would stage an equal-cursor tie
    //    but never roll it up. The cadences write different tables and
    //    only read stage, so their refreshes run side by side.
    val stage = spark.read.parquet(stagePath)
    Cycle.overlapped(cadences.map { c => () =>
      Warehouse.refreshAggregate(
        c.prepare(stage), c.aggPath, partitionCols = c.partitionCols,
        rawWatermarkCol = cursorCol, aggWatermarkCol = "last_ts",
        aggregate = c.aggregate, inclusiveWatermark = true)
    }: _*)
  }
}
