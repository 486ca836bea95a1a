package graft.sources

import org.apache.spark.sql.DataFrame

/** Batch warehouse sink: the TimescaleDB-hypertable role of the
  * reference DWH (reference: dags/dbt_project/models — stage/agg tables
  * keyed by day/month), re-expressed as partitioned/bucketed parquet.
  *
  * The load pattern that matters for an orchestrated pipeline is
  * IDEMPOTENT PARTITION REPLACEMENT: an Airflow-style re-run of one
  * period must replace exactly that period's rows and leave every other
  * partition untouched (dbt incremental materialization semantics).
  * `overwritePartitions` does that with dynamic partition overwrite —
  * only partitions present in `df` are rewritten, atomically per
  * partition, so retries are safe and no read-modify-write of the whole
  * table ever happens. At 100 TB that's the difference between
  * rewriting one day and rewriting three years.
  */
object Warehouse {

  /** Idempotent partition-granular write. Re-running with the same (or
    * corrected) period data converges to the same table state. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** MERGE-style upsert into a partitioned parquet warehouse (the
    * `INSERT ... ON CONFLICT` role of the reference's TimescaleDB sink,
    * reference: dags/dbt_project/models/stage — dbt incremental with
    * unique_key): rows of `updates` replace existing rows with the same
    * `key`; everything else is preserved. Only the partitions PRESENT
    * IN `updates` are read and rewritten — cost scales with the touched
    * periods, never the table. Latest-wins within and across batches by
    * `versionCol` (ties to the update side), so replays are idempotent.
    *
    * The anti-join/union runs per touched partition via the partition-
    * pruned read; at 100 TB the read+rewrite is bounded by the hot
    * partitions an incremental run actually lands in. */
  def mergeUpsert(updates: DataFrame, path: String, partitionCols: Seq[String],
                  key: Seq[String], versionCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spark = updates.sparkSession
    // explicit existence probe — catching AnalysisException here would
    // also swallow real errors (corrupt footer, schema mismatch) and
    // silently treat a broken table as a first load
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (!fs.exists(hPath)) updates.limit(0) // first load: nothing to merge
      else {
        val full = spark.read.parquet(path)
        // prune to touched partitions only (broadcast semi-join on the
        // small distinct partition-key set keeps pruning dynamic)
        full.join(broadcast(updates.select(partitionCols.map(col): _*).distinct()),
          partitionCols, "left_semi")
      }
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc)
    val merged = existing.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__src")
    // localCheckpoint: the merged plan reads the files the write below
    // replaces — materialize before overwriting them; the pin is dead
    // once the write has landed
    val pinned = merged.localCheckpoint()
    overwritePartitions(pinned, path, partitionCols)
    graft.operators.Pins.release(pinned)
  }

  /** CONTINUOUS-AGGREGATE refresh — the TimescaleDB continuous
    * aggregate / dbt incremental-model contract (reference:
    * dags/dbt_project/models/agg models materialized incrementally;
    * macros/get_max_insert_timestamp.sql is exactly the high-watermark
    * probe below): keep an aggregate table fresh against an append-only
    * raw table WITHOUT recomputing history.
    *
    * Refresh = (1) read the aggregate's high watermark (max
    * `aggWatermarkCol` — one tiny agg over the small table); (2) rows
    * newer than it name the TOUCHED periods (partition values); (3)
    * those periods are re-aggregated FROM RAW — complete recomputes,
    * so late-arriving rows inside an old period are folded in
    * correctly, not just appended — and (4) land via dynamic partition
    * overwrite, replacing exactly the touched periods. The WRITE
    * scales with the hot periods an increment lands in; the READS do
    * not yet: the delta probe filters `raw` on the cursor alone, and
    * the slice prunes `raw`'s files only when its period key is `raw`'s
    * partition column — a weekly or monthly refresh over day-partitioned
    * stage reads every stage file, so its cost grows with table history
    * (ROADMAP item 6). Re-running with no new data is a no-op;
    * re-running after a crash converges (idempotent), which is what
    * lets an Airflow-style scheduler retry blindly.
    *
    * `raw` must already carry the partition columns (derive the period
    * key first) plus a monotone ingest cursor `rawWatermarkCol` (dlt's
    * incremental cursor — INGEST time, not event time, so late events
    * still advance it); `aggregate` must emit the partition columns and
    * `max(rawWatermarkCol)` as `aggWatermarkCol`.
    *
    * `inclusiveWatermark` compares the delta with `>=` instead of `>`:
    * required when the UPSTREAM extract also replays its boundary
    * (the `$gte` cursor contract) — with a strict delta, a row landing
    * AT the watermark is staged but its period never re-aggregates
    * (silent rollup loss). Cost: each refresh re-aggregates the
    * boundary period once more — idempotent, bounded to one period,
    * and a no-new-data refresh rewrites just that period instead of
    * nothing. */
  def refreshAggregate(raw: DataFrame, tablePath: String,
                       partitionCols: Seq[String], rawWatermarkCol: String,
                       aggWatermarkCol: String,
                       aggregate: DataFrame => DataFrame,
                       inclusiveWatermark: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, max}
    val spark = raw.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) {
      overwritePartitions(aggregate(raw), tablePath, partitionCols)
    } else {
      val hwm = spark.read.parquet(tablePath)
        .agg(max(col(aggWatermarkCol))).head().get(0)
      val delta =
        if (hwm == null) raw
        else if (inclusiveWatermark) raw.filter(col(rawWatermarkCol) >= lit(hwm))
        else raw.filter(col(rawWatermarkCol) > lit(hwm))
      val touched = delta.select(partitionCols.map(col): _*).distinct()
      // complete re-aggregation of ONLY the touched periods: the raw
      // read prunes to them (partition pruning / DPP on a partitioned
      // landing), and dynamic overwrite replaces only those partitions
      val slice = raw.join(broadcast(touched), partitionCols, "left_semi")
      overwritePartitions(aggregate(slice), tablePath, partitionCols)
    }
  }

  /** Small-files MAINTENANCE — the compaction job every incremental
    * warehouse needs: continuous keyed upserts ([[mergeUpsert]], the
    * streaming sinks) leave hot partitions with one small file per
    * micro-batch/cycle, and at 100 TB the resulting file-listing +
    * task-scheduling overhead, not data volume, starts dominating reads.
    *
    * For each leaf partition whose file count exceeds both `minFiles`
    * and its byte-proportional target (`ceil(bytes / targetFileBytes)`),
    * the partition is re-read (partition-pruned — directly by its own
    * path), `coalesce`d to the target file count — a NARROW dependency:
    * compaction never shuffles a byte — and atomically replaced via
    * dynamic partition overwrite. Partitions already at their target are
    * left byte-untouched (spec-asserted), so repeated runs are no-ops
    * and the job can run on any cadence. The per-partition loop is
    * driver-side METADATA iteration (bounded by partition count, the
    * same pattern as the refresh watermarks); each partition's rewrite
    * is one bounded Spark job.
    *
    * Partition-column values are restored from the directory names as
    * strings — the rewritten directory names (and hence read-back
    * partition-type inference) are identical to the originals.
    *
    * Returns (partitionPath, filesBefore, filesAfter) per compacted
    * partition for observability. */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession,
                        path: String, partitionCols: Seq[String],
                        targetFileBytes: Long = 128L << 20,
                        minFiles: Int = 2): Seq[(String, Int, Int)] = {
    import org.apache.spark.sql.functions.lit
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return Seq.empty
    def leafDirs(dir: org.apache.hadoop.fs.Path,
                 depth: Int): Seq[org.apache.hadoop.fs.Path] =
      if (depth == 0) Seq(dir)
      else fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .flatMap(s => leafDirs(s.getPath, depth - 1))
    leafDirs(hPath, partitionCols.size).flatMap { pd =>
      val files = fs.listStatus(pd).filter(f =>
        f.isFile && !f.getPath.getName.startsWith("_")
          && !f.getPath.getName.startsWith("."))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      if (files.length <= math.max(want, minFiles)) None
      else {
        // listStatus returns scheme-qualified paths; strip the equally-
        // qualified root so `rel` is the bare partition-dir chain
        val rel = pd.toString
          .stripPrefix(fs.makeQualified(hPath).toString).stripPrefix("/")
        val kvs = rel.split("/").map { seg =>
          val Array(k, v) = seg.split("=", 2)
          k -> java.net.URLDecoder.decode(v, "UTF-8")
        }
        val part = kvs.foldLeft(spark.read.parquet(pd.toString)) {
          case (df, (k, v)) => df.withColumn(k, lit(v))
        }
        // localCheckpoint: the coalesced plan reads the very files the
        // dynamic overwrite below replaces; released once written
        val pinned = part.coalesce(want).localCheckpoint()
        overwritePartitions(pinned, path, partitionCols)
        graft.operators.Pins.release(pinned)
        Some((rel, files.length, want))
      }
    }
  }

  /** Retention policy — TimescaleDB `add_retention_policy()` /
    * `drop_chunks()` for the parquet warehouse: drop every first-level
    * partition of `partitionCol` strictly older than `keepFrom`
    * (value < keepFrom under the partition encoding's lexicographic
    * order — the `day=YYYYMMDD` keys the IoT tables use sort
    * correctly by construction). Returns the dropped partition values;
    * already-absent partitions are a no-op, so any-cadence re-runs
    * converge (the drop-chunks idempotence contract).
    *
    * This is a METADATA-ONLY operation: no scan, no shuffle, no
    * rewrite — each expired partition is one recursive directory
    * delete, which is why time-first partitioning beats a `DELETE
    * WHERE ts < cutoff` (a full rewrite of every touched file) at
    * warehouse scale. Surviving partitions are byte-untouched
    * (spec-asserted). */
  def applyRetention(spark: org.apache.spark.sql.SparkSession,
                     path: String, partitionCol: String,
                     keepFrom: String): Seq[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return Seq.empty
    fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$partitionCol="))
      .flatMap { s =>
        val v = java.net.URLDecoder.decode(
          s.getPath.getName.stripPrefix(s"$partitionCol="), "UTF-8")
        if (v < keepFrom) { fs.delete(s.getPath, true); Some(v) } else None
      }.sorted
  }

  /** SURGICAL keyed delete (J11) — the GDPR / right-to-be-forgotten
    * erase a lake needs when the doomed rows are named by KEY, not by
    * the partition column (that case is [[applyRetention]]'s
    * metadata-only drop): find the partitions that actually CONTAIN a
    * doomed key (one column-pruned scan of key + partition columns —
    * without a key index a locate pass is the floor; key-partitioned
    * layouts prune it for free), read ONLY those partitions back,
    * anti-join the doomed keys, and land via dynamic partition
    * overwrite. Untouched partitions are never opened or replaced —
    * byte-identical after the run (spec-asserted on file listings).
    *
    * Partitions whose rows ALL die need explicit directory deletes:
    * dynamic overwrite only replaces partitions PRESENT in the written
    * frame, so an all-deleted partition would otherwise survive with
    * its old files — the classic silent-retention bug. Idempotent: a
    * re-run finds no containing partitions and touches nothing.
    * Returns the touched partition values (rewritten ++ dropped). */
  def deleteKeys(doomed: DataFrame, path: String, partitionCols: Seq[String],
                 key: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val spark = doomed.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return Seq.empty
    val table = spark.read.parquet(path)
    val keys = broadcast(doomed.select(key.map(col): _*).distinct())
    // locate pass: which partitions contain a doomed key at all
    val touched = table.select((partitionCols ++ key).map(col): _*)
      .join(keys, key, "left_semi")
      .select(partitionCols.map(col): _*).distinct().collect()
      .map(r => partitionCols.map(c => r.get(r.fieldIndex(c))))
    if (touched.isEmpty) return Seq.empty
    val touchedDf = broadcast(
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          touched.toIndexedSeq.map(org.apache.spark.sql.Row.fromSeq)),
        org.apache.spark.sql.types.StructType(
          partitionCols.map(table.schema(_)))))
    val hot = table.join(touchedDf, partitionCols, "left_semi")
    val survivors = hot.join(keys, key, "left_anti").localCheckpoint()
    // partitions that survive with rows rewrite in place; the rest
    // (fully erased) need their directories dropped explicitly
    val kept = survivors.select(partitionCols.map(col): _*).distinct()
      .collect().map(r => partitionCols.map(c => r.get(r.fieldIndex(c))).mkString("/")).toSet
    overwritePartitions(survivors, path, partitionCols)
    graft.operators.Pins.release(survivors)
    touched.toSeq.map { vals =>
      val rel = partitionCols.zip(vals).map { case (c, v) =>
        s"$c=" + java.net.URLEncoder.encode(String.valueOf(v), "UTF-8")
      }.mkString("/")
      if (!kept.contains(vals.mkString("/")))
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$rel"), true)
      rel
    }.sorted
  }

  /** Bucketed + sorted warehouse table: co-locates rows by join key so
    * downstream fact-fact joins and grouped aggs on `bucketCols` plan
    * with ZERO exchange (verified in PlanSpec). The one-time write cost
    * buys every subsequent query's shuffle. */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    bucketCols: Seq[String], sortCols: Seq[String]): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(table)

  /** INCREMENTAL MATERIALIZED JOIN — the dbt incremental-model-with-a-
    * join contract (the reference's stage models join users onto events
    * at every scheduled run; reference:
    * dags/dbt_project/macros/get_max_insert_timestamp.sql for the
    * watermark probe): keep an enriched fact table (`enrich(fact, dim)`)
    * fresh against an append-only fact WITHOUT re-joining history.
    *
    * Refresh = (1) probe the materialization's high watermark (max of
    * the carried `factWatermarkCol`); (2) join ONLY the newer fact
    * delta against the dim; (3) land the enriched delta via
    * [[mergeUpsert]] keyed on the fact PK — so a crashed/retried
    * refresh that replays its delta converges instead of duplicating
    * (append alone would not be idempotent). Cost scales with the
    * delta and its touched partitions, never with fact history.
    *
    * Semantics are ENRICH-AT-INGEST (Type 1 at write time): a dim
    * change only affects rows ingested after it. That is the
    * reference's stage-model behavior; point-in-time correctness
    * against a CHANGING dim is the [[graft.operators.Incremental]]
    * SCD2 + pit_join path, not this.
    *
    * `enrich` must preserve `factKey` + `factWatermarkCol` + the
    * partition columns. */
  def refreshEnriched(fact: DataFrame, dim: DataFrame, tablePath: String,
                      partitionCols: Seq[String], factKey: Seq[String],
                      factWatermarkCol: String,
                      enrich: (DataFrame, DataFrame) => DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max}
    val spark = fact.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) {
      overwritePartitions(enrich(fact, dim), tablePath, partitionCols)
    } else {
      val hwm = spark.read.parquet(tablePath)
        .agg(max(col(factWatermarkCol))).head().get(0)
      val delta =
        if (hwm == null) fact else fact.filter(col(factWatermarkCol) > lit(hwm))
      if (!delta.isEmpty)
        mergeUpsert(enrich(delta, dim), tablePath, partitionCols,
          factKey, factWatermarkCol)
    }
  }

  /** Interleaved-bit (Morton) z-value over already-quantized
    * non-negative integer columns — `bitsPerCol * cols.size` must be
    * ≤ 63. Pure bit arithmetic, stays in whole-stage codegen. */
  def zValue(quantized: Seq[org.apache.spark.sql.Column], bitsPerCol: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    require(quantized.nonEmpty && bitsPerCol * quantized.size <= 63)
    (0 until bitsPerCol).flatMap { b =>
      quantized.zipWithIndex.map { case (q, i) =>
        shiftleft(shiftright(q, b).bitwiseAND(lit(1L)),
          b * quantized.size + i)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Z-ORDER CLUSTERED layout — multi-dimensional data skipping for
    * the warehouse (the Delta/Iceberg `OPTIMIZE ZORDER BY` role):
    * rows are ordered by the Morton interleave of their (linearly
    * min-max-quantized) `cols`, so a parquet reader's per-file/
    * row-group min-max stats prune on EVERY z-ordered column at once.
    * A single-column sort gives perfect pruning on that column and
    * none on the others; z-order trades a little of each for skipping
    * on all — the right layout when queries slice by more than one
    * dimension (entity × time × metric at 100 TB).
    *
    * One tiny agg computes global min/max per column (two scalars
    * each), then ONE range repartition on the z-value both clusters
    * across files and sorts within them — no extra sort pass. The
    * z column is dropped before write; files carry only data.
    * Non-finite/null column values quantize to bucket 0 (they sort
    * first, harmlessly). Returns the (min, max) calibration per column
    * so readers can reconstruct the cell decomposition if needed. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    numFiles: Int, bitsPerCol: Int = 10)
      : Seq[(String, Double, Double)] = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && numFiles >= 1)
    val minMax = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val ranges = df.agg(minMax.head, minMax.tail: _*).head()
    val calib = cols.zipWithIndex.map { case (c, i) =>
      val lo = Option(ranges.get(2 * i)).fold(0.0)(_.asInstanceOf[Double])
      val hi = Option(ranges.get(2 * i + 1)).fold(0.0)(_.asInstanceOf[Double])
      (c, lo, hi)
    }
    val maxQ = (1L << bitsPerCol) - 1
    val quantized = calib.map { case (c, lo, hi) =>
      val span = if (hi > lo) hi - lo else 1.0
      coalesce(least(greatest(
          floor((col(c).cast("double") - lit(lo)) / lit(span) * lit(maxQ.toDouble)),
          lit(0L)), lit(maxQ)).cast("long"), lit(0L))
    }
    df.withColumn("__z", zValue(quantized, bitsPerCol))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    calib
  }
}
