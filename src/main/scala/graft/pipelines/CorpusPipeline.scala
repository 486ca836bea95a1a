package graft.pipelines

import graft.functions.TextFunctions
import graft.operators.{Dedup, Pins}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM-corpus counterpart of [[IotBatchPipeline]]: continuous
  * corpus construction as one incremental, idempotent cycle any
  * scheduler can fire blindly. Where the IoT pipeline maintains a
  * warehouse (stage + agg cadences), this maintains a training CORPUS
  * and its dedup INDEX — the "ingest a crawl batch" loop every
  * training-data pipeline runs.
  *
  * One cycle =
  *  1. EXTRACT: landing docs not already accepted (the corpus's
  *     `doc_id`s mark them seen — re-delivered docs are skipped, so
  *     crashed or duplicated runs converge).
  *  2. CURATE: quality score + language agreement, in the same pinned
  *     pass as the extract (the H7 score-first discipline — map-side
  *     work, no text ever shuffles for docs that fail here); each new
  *     doc carries its verdict in the pin.
  *  3. EXACT DEDUP: batch docs whose `md5(text)` already exists in the
  *     corpus are dropped — the corpus STORES `text_hash` at commit, so
  *     this gate reads one pruned column of the archive, never its
  *     text; within the batch the lowest id per hash wins, and a
  *     `doc_id` landing twice in one batch keeps one row.
  *  4. NEAR-DUP vs ARCHIVE: the batch is signed+banded ONCE (the probe,
  *     the within-batch pair run and the index commit all consume that
  *     one pass) and probed ONCE against the PERSISTED band index
  *     ([[Dedup.minhashProbeBands]]) — the archive's text is never
  *     re-read; matches with ≥ `minBands` agreeing bands are rejected.
  *     The probe's result is pinned, so the keepers, the within-batch
  *     pair run and the index commit read it instead of re-running the
  *     index scan, the bucket-cap aggregate and the probe join.
  *  5. NEAR-DUP within batch: [[Dedup.minhashPairsFromBands]] over the
  *     surviving bands → [[Dedup.clusters]] → keep each cluster's
  *     canonical keeper ([[Dedup.applyClusters]]).
  *  6. COMMIT: survivors are APPENDED to the lang-partitioned corpus,
  *     then their band rows to the band-partitioned index. They are new
  *     by construction (step 1 drops every stored `doc_id`, step 3
  *     keeps one row per `doc_id`), so a commit reads no stored row and
  *     rewrites no file; replays are absorbed by step 1's seen filter,
  *     and the maintained index provably equals a from-scratch index of
  *     the corpus (spec-asserted). Before either append, each batch is
  *     analysed as a union with the table the cycle opened at its start
  *     (no job), so schema drift fails the cycle before it writes. The
  *     index commit follows a corpus commit that succeeded, so the index
  *     never holds a doc the corpus lacks.
  *
  * Accounting rides the pins: the landing, new and curated counts are
  * `Dataset.observe` metrics of the extract pin, the exact-dedup
  * survivors of its pin and the accepted count of the accepted pin —
  * none of them runs an execution of its own; the corpus size is the
  * one figure read back, from the committed table. A metric that fails
  * to surface throws, naming the metric and the line that read it
  * ([[Pins.observedRow]]). Every pin the cycle takes (the extract,
  * exact-dedup, band, archive-probe, cluster-label and accepted pins) is
  * released once its last consumer has materialized, so a long
  * `ingestStream` session holds no blocks between micro-batches.
  *
  * Decisions are deterministic and the corpus only grows, so a doc
  * re-landing in any later cycle reaches the same verdict — the
  * accounting invariant (every landing doc is accepted, a dup of an
  * accepted doc, or quality-rejected) holds across any cycle split.
  * Near-dup ACCEPTANCE is order-dependent across cycles by design
  * (first accepted member of a dup group becomes the archive's
  * representative; later members reject against it) — same as any
  * streaming dedup; the invariant that matters is that NO two accepted
  * docs are near-dups at the banding's sensitivity.
  *
  * Scale: scoring, signing and both commits cost the batch
  * (`CorpusPipelineSpec`: one 100-doc increment wrote 12,380 B after a
  * 19-doc archive and 12,054 B after a 101-doc one). What still reads
  * the archive, each cycle:
  *  - the extract's seen filter, the corpus's `doc_id` column;
  *  - the exact gate, the corpus's `text_hash` column;
  *  - the archive probe, the whole band index: its bucket-cap aggregate
  *    groups every index row before the probe join (ROADMAP item 9);
  *  - the corpus size in [[CycleStats]], a row count of the corpus.
  * Each commit adds a file per touched partition and write task, so the
  * file count grows with the cycles; [[graft.sources.Warehouse.compactPartitions]]
  * is the periodic step that folds them (not a per-cycle one: with its
  * `minFiles = 2` it would rewrite every partition each cycle).
  */
object CorpusPipeline {

  case class CycleStats(nLanding: Long, nNew: Long, nRejectedQuality: Long,
                        nRejectedExact: Long, nRejectedNearDup: Long,
                        nAccepted: Long, corpusSize: Long)

  /** The table at `path`, if one has been committed there. */
  private def stored(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(path))
    else None
  }

  /** The accepted corpus (empty frame with the landing's schema before
    * the first commit). Landing schema: `doc_id, text, lang, source`. */
  def corpus(spark: SparkSession, corpusPath: String,
             landing: DataFrame): DataFrame =
    stored(spark, corpusPath).getOrElse(landing.limit(0))

  def bandIndex(spark: SparkSession, indexPath: String): DataFrame =
    stored(spark, indexPath).getOrElse {
      import spark.implicits._
      spark.emptyDataset[(Long, Int, String)].toDF("doc", "band", "bucket")
    }

  /** `maxBucket` caps the archive-index bucket size the probe joins
    * against (finite BY DEFAULT here, unlike the cap-free operator
    * defaults): the corpus's no-near-dups invariant limits band-bucket
    * mass but does not bound it (chance collisions, boilerplate-heavy
    * corpora), and at archive scale one hot bucket otherwise expands
    * quadratically in the probe join. Members of a dropped bucket are
    * still guarded by the exact-hash gate and the within-batch pass. */
  def runCycle(landing: DataFrame, corpusPath: String, indexPath: String,
               k: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
               minQuality: Double = 0.5, minBands: Int = 2,
               maxBucket: Int = 1000): CycleStats = {
    val spark = landing.sparkSession
    val storedCorpus = stored(spark, corpusPath)
    val corp = storedCorpus.getOrElse(landing.limit(0))
    val idx = bandIndex(spark, indexPath)

    // 1. extract + 2. curate, in ONE pinned pass: landing docs already
    // accepted are skipped (replay/crash convergence); the rest are
    // scored map-side (score-first: text never shuffles for drops) and
    // carry their verdict in the pin. The landing, new and curated
    // counts ride this pass. They are observed above the corpus join,
    // so it is a left join marking the seen ids (`doc_id` is the
    // corpus key, so it adds no row), not an anti join: adaptive
    // execution drops an observation UNDER a join side it prunes as
    // empty. The landing count is taken below the new-doc filter, so
    // the observation sits inside `extract` rather than at the top of
    // the pin (where `Pins.pinObserved` places it).
    val isNew = col("__seen").isNull
    val extract = landing
      .join(corp.select(col("doc_id"), lit(true).as("__seen")),
        Seq("doc_id"), "left")
      .withColumn("__p",
        when(isNew, TextFunctions.textProfile(lower(col("text")))))
      .withColumn("__curated", coalesce(
        TextFunctions.qualityScoreFromProfile(col("text"), col("__p")) >=
          minQuality &&
          TextFunctions.langIdFromProfile(col("__p")) === col("lang"),
        lit(false)))
      .observe("corpus_fresh", count(lit(1)).as("n_landing"),
        count(when(isNew, 1)).as("n_new"),
        count(when(col("__curated"), 1)).as("n_curated"))
      .filter(isNew)
      .select(landing.columns.map(col) :+ col("__curated"): _*)
    val fresh = Pins.pin(extract)
    val extracted = Pins.observedRow(extract, "corpus_fresh")
    val nLanding = extracted.getAs[Long]("n_landing")
    val nNew = extracted.getAs[Long]("n_new")
    val nCurated = extracted.getAs[Long]("n_curated")
    val nQualityRejected = nNew - nCurated

    // 3. exact dedup: the corpus stores `text_hash` at commit time, so
    // this gate reads ONE pruned column of the archive — never its text
    // (first cycle: no corpus yet, the hash frame is empty either way).
    // Within the batch the lowest id per hash wins, then one row per
    // `doc_id` (the lowest hash) survives, so a doc landing twice in one
    // batch with different texts commits one row; the second counts as
    // an exact duplicate
    val corpHashes =
      if (corp.columns.contains("text_hash"))
        corp.select(col("text_hash").as("__h")).distinct()
      else corp.select(md5(col("text")).as("__h")).distinct()
    val hashed = fresh.filter(col("__curated")).drop("__curated")
      .withColumn("__h", md5(col("text")))
    def first(by: String, order: String)(df: DataFrame): DataFrame = df
      .withColumn("__rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col(by)).orderBy(col(order))))
      .filter(col("__rn") === 1).drop("__rn")
    // pinned: the banding pass and the accepted pin both read it
    val (noExact, uniqueRow) = Pins.pinObserved(hashed
      .join(corpHashes, Seq("__h"), "left_anti")
      .transform(first("__h", "doc_id"))
      .transform(first("doc_id", "__h"))
      .withColumnRenamed("__h", "text_hash"),
      "corpus_no_exact", count(lit(1)).as("n"))
    Pins.release(fresh)
    val nExactRejected = nCurated - uniqueRow.getAs[Long]("n")

    // sign + band the batch ONCE; the archive probe, the within-batch
    // pair run and the index commit all consume this one pass
    val batchBands = Dedup.minhashBandIndex(noExact, "doc_id", "text",
        k, numHashes, rowsPerBand)
      .localCheckpoint()

    // 4. near-dup vs archive (index probe; archive text untouched),
    // pinned ONCE: the keepers, the within-batch pair run and the index
    // commit read the pin instead of each re-running the index scan,
    // the bucket-cap aggregate and the probe join
    val archiveDups = Dedup.minhashProbeBands(idx, batchBands, maxBucket)
      .filter(col("n_bands") >= minBands)
      .select(col("doc_id")).distinct()
      .localCheckpoint()
    val noArchiveDup = noExact.join(archiveDups, Seq("doc_id"), "left_anti")
    val keptBands = batchBands
      .join(archiveDups.select(col("doc_id").as("doc")), Seq("doc"), "left_anti")

    // 5. near-dup within batch: pairs → clusters → canonical keepers
    val pairs = Dedup.minhashPairsFromBands(keptBands)
      .filter(col("n_bands") >= minBands)
    val clusters = Dedup.clusters(pairs, "doc_a", "doc_b")
    // pinned: written twice below (corpus + index)
    val (accepted, acceptedRow) = Pins.pinObserved(
      Dedup.applyClusters(noArchiveDup, "doc_id", clusters, "doc_id",
        "cluster_id"),
      "corpus_accepted", count(lit(1)).as("n"))
    Pins.release(noExact, clusters)
    val nAccepted = acceptedRow.getAs[Long]("n")
    val nNearDupRejected = nNew - nQualityRejected - nExactRejected - nAccepted

    // 6. commit: accepted docs are new by construction (the extract
    // dropped every stored `doc_id`, step 3 left one row per `doc_id`),
    // so both commits APPEND — no read of the stored corpus or index.
    // Drift is loud: each append is first analysed against the table
    // the cycle opened at its start (a union, which starts no job), so a
    // batch that cannot join the stored schema throws before either
    // write. The index rows are the accepted docs' slice of the ONE
    // banding pass. The index commit FOLLOWS a corpus commit that
    // succeeded, never runs beside it: an index that holds docs the
    // corpus lacks would make a replay probe each such doc against its
    // own bands and reject it as a near-dup of itself, so it would never
    // enter the corpus.
    if (nAccepted > 0) {
      val acceptedBands = keptBands
        .join(accepted.select(col("doc_id").as("doc")), Seq("doc"), "left_semi")
      storedCorpus.foreach(_.unionByName(accepted))
      idx.unionByName(acceptedBands)
      accepted.write.mode("append").partitionBy("lang").parquet(corpusPath)
      acceptedBands.write.mode("append").partitionBy("band").parquet(indexPath)
    }
    Pins.release(accepted, batchBands, archiveDups)
    val corpusSize = corpus(spark, corpusPath, landing).count()
    CycleStats(nLanding, nNew, nQualityRejected, nExactRejected,
      nNearDupRejected, nAccepted, corpusSize)
  }

  /** `foreachBatch` body for CONTINUOUS corpus ingestion: each
    * micro-batch of landing docs runs one full [[runCycle]] against the
    * persisted corpus + index, under Structured Streaming's
    * at-least-once foreachBatch contract: a replayed micro-batch's
    * accepted docs are skipped at extract and its rejected docs re-reach
    * the same deterministic verdicts, so the appends never commit a doc
    * twice. A replay therefore converges on the state of a run that
    * never failed when the cycle failed before or in the corpus commit,
    * or after both commits (before its stats reached `onStats`); it
    * does NOT repair an index commit that failed after the corpus
    * commit landed — the replay skips those docs at extract, so their
    * bands never reach the index (ROADMAP item 8). `onStats`
    * receives each cycle's accounting row (a production deployment
    * writes it to a metrics sink). */
  def foreachBatchSink(corpusPath: String, indexPath: String,
                       k: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
                       minQuality: Double = 0.5, minBands: Int = 2,
                       maxBucket: Int = 1000,
                       onStats: (Long, CycleStats) => Unit = (_, _) => ())
                      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      onStats(batchId, runCycle(batch, corpusPath, indexPath,
        k, numHashes, rowsPerBand, minQuality, minBands, maxBucket))

  /** The streaming entry point the reference's continuously-scheduled
    * extract DAG implies (reference: dags/iot_mongo_extract_to_dwh.py —
    * a loop that keeps landing new Mongo documents): a streaming frame
    * of landing docs (`doc_id, text, lang, source`) → one corpus cycle
    * per micro-batch. Append output mode — the sink consumes raw
    * arrivals; all state (corpus, index) lives in the persisted paths,
    * so a restarted query resumes from the checkpoint and replayed
    * batches are absorbed (see [[foreachBatchSink]]). */
  def ingestStream(docsStream: DataFrame, corpusPath: String,
                   indexPath: String, checkpoint: String,
                   k: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
                   minQuality: Double = 0.5, minBands: Int = 2,
                   maxBucket: Int = 1000,
                   onStats: (Long, CycleStats) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(foreachBatchSink(corpusPath, indexPath, k, numHashes,
        rowsPerBand, minQuality, minBands, maxBucket, onStats))
}
