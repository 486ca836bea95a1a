package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Degenerate-input sweep: empty frames, single rows, zero vectors,
  * empty strings. A 100 TB pipeline WILL see all of these (an empty
  * partition after a filter, a blank document, a zeroed embedding) —
  * operators must return sane empties, not throw or emit NaN. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private val oneDoc = Seq((1L, "just one lonely document here")).toDF("doc_id", "text")
  private val blankDoc = Seq((1L, ""), (2L, "   "), (3L, "real text here now")).toDF("doc_id", "text")

  test("dedup family returns empty/sane results on empty and blank input") {
    assert(Dedup.exact(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccard(noDocs, "doc_id", "text", 3, 0.2).count() == 0)
    assert(Dedup.minhashLsh(noDocs, "doc_id", "text", 3, 16, 4).count() == 0)
    assert(Dedup.simhashNearDup(noDocs, "doc_id", "text", 3).count() == 0)
    assert(Dedup.sharedShingleRatio(noDocs, "doc_id", "text", 3).count() == 0)
    assert(Dedup.removeRepeatedSpans(noDocs, "doc_id", "text", 3).count() == 0)
    // a single doc can pair with nothing
    assert(Dedup.ngramJaccard(oneDoc, "doc_id", "text", 3, 0.2).count() == 0)
    // blank docs survive span removal with empty clean_text, not a crash
    val byId = Dedup.removeRepeatedSpans(blankDoc, "doc_id", "text", 3)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(byId.size == 3)
    assert(byId(1L) == 0 && byId(2L) == 0 && byId(3L) == 4)
  }

  test("clusters of an empty pair set is empty; self-pair input converges") {
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(noPairs, "doc_a", "doc_b").count() == 0)
    val selfish = Seq((5L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(selfish, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((5L, 5L)))
  }

  test("similarity search tolerates empty corpora and zero vectors") {
    val noVecs = Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding")
    assert(Similarity.bruteForceTopK(noVecs, noVecs, "vec_id", "embedding", 5).count() == 0)
    // zero vector: l2normalize must not emit NaN that poisons every cosine
    val withZero = Seq(
      (1L, Array(0.0, 0.0)), (2L, Array(1.0, 0.0)), (3L, Array(0.9, 0.1)))
      .toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(withZero,
      withZero.filter($"vec_id" === 2), "vec_id", "embedding", 2)
    val cosines = bf.select("cosine").as[Double].collect()
    assert(cosines.nonEmpty && cosines.forall(c => !c.isNaN))
    // quantization of an empty frame
    assert(Similarity.quantizeInt8(noVecs, "vec_id", "embedding").count() == 0)
    // PQ searchers: empty corpus trains empty codebooks — must return
    // empty, not fail analysis on a 0-code argmax; and a corpus smaller
    // than nCodes seeds short (non-empty) codebooks and still searches
    assert(Similarity.pqTopK(noVecs, noVecs, "vec_id", "embedding", 5,
      m = 2, dim = 2).count() == 0)
    assert(Similarity.ivfPqTopK(noVecs, noVecs, "vec_id", "embedding", 5,
      m = 2, dim = 2).count() == 0)
    // default-dim path: inference has no row to probe on an empty
    // corpus — must honor the same empty contract, not throw
    assert(Similarity.pqTopK(noVecs, noVecs, "vec_id", "embedding", 5,
      m = 2).count() == 0)
    assert(Similarity.ivfPqTopK(noVecs, noVecs, "vec_id", "embedding", 5,
      m = 2).count() == 0)
    val tiny = Similarity.pqTopK(withZero, withZero.filter($"vec_id" === 2),
      "vec_id", "embedding", 2, m = 1, nCodes = 16, iters = 1,
      shortlist = 10, dim = 2)
    assert(tiny.count() > 0 &&
      tiny.select("cosine").as[Double].collect().forall(c => !c.isNaN))
  }

  test("curation family on empty input returns empty, not errors") {
    assert(Curation.contaminationSplit(noDocs, "doc_id", "text", 3,
      col("doc_id") % 2 === 0).count() == 0)
    assert(Curation.hashSample(noDocs, col("doc_id"), 10).count() == 0)
    assert(Curation.quotaSample(noDocs.withColumn("q", lit(1.0)),
      Seq("text"), col("q"), col("doc_id"), 3).count() == 0)
    assert(Curation.packSequences(noDocs.withColumn("n", lit(1)),
      Seq("text"), col("n"), col("n"), col("doc_id"), 128).count() == 0)
    assert(Curation.sourceMix(noDocs.withColumn("n", lit(1L)),
      Seq("text"), col("n"), lit(1.0)).count() == 0)
    assert(Curation.packSequencesNoSplit(noDocs.withColumn("n", lit(1)),
      Seq("text"), col("n"), col("n"), col("doc_id"), 128).count() == 0)
  }

  test("r6 operators on empty input return empty, not errors") {
    val noReadings = Seq.empty[(Long, String, java.sql.Timestamp, Long, Double)]
      .toDF("user_id", "day", "ts", "event_id", "value")
    assert(TimeAgg.counterDelta(noReadings, Seq("user_id", "day"), "value",
      Seq("event_id"), 4).count() == 0)
    assert(TimeAgg.timeWeightedAvg(noReadings, Seq("user_id", "day"), "ts",
      Seq("event_id"), "value", 4).count() == 0)
    assert(TimeAgg.firstLast(noReadings, Seq("user_id", "day"), "value",
      Seq("ts", "event_id")).count() == 0)
    assert(Curation.ngramLmScore(noDocs, "doc_id", "text", 3).count() == 0)
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload")
    assert(Multimodal.perceptualHash(noMedia).count() == 0)
    assert(Multimodal.phashNearDup(noMedia, 12).count() == 0)
    // empty archive index: the probe finds nothing, never errors
    val emptyIdx = Dedup.minhashBandIndex(noDocs, "doc_id", "text", 3, 16, 4)
    val batch = Seq((10L, "some text here")).toDF("doc_id", "text")
    assert(Dedup.minhashLshAgainst(emptyIdx, batch,
      "doc_id", "text", 3, 16, 4).count() == 0)
    // empty batch against a real index likewise
    val idx = Dedup.minhashBandIndex(batch, "doc_id", "text", 3, 16, 4)
    assert(Dedup.minhashLshAgainst(idx, noDocs,
      "doc_id", "text", 3, 16, 4).count() == 0)
  }

  test("r7 operators on empty and degenerate input return sane results, not errors") {
    // chunking: empty corpus → no chunks; doc shorter than overlap →
    // exactly one chunk holding everything
    assert(Curation.chunkTokens(noDocs, "doc_id", "text", 64, 16).count() == 0)
    val tiny = Seq((1L, "just three tokens")).toDF("doc_id", "text")
    val tc = Curation.chunkTokens(tiny, "doc_id", "text", 64, 16).collect()
    assert(tc.length == 1 && tc.head.getString(4) == "just three tokens")
    // tf-idf: empty corpus → empty
    assert(Curation.topTfidfTerms(noDocs, "doc_id", "text", 5).count() == 0)
    // CMS: empty corpus → empty sketch, probes return nothing
    val emptyCms = graft.operators.Sketches.countMinTable(
      noDocs.select(col("text").as("term")), "term", 4, 64)
    assert(emptyCms.count() == 0)
    assert(graft.operators.Sketches.countMinEstimate(emptyCms,
      tiny.select(col("text").as("term")), "term", 4, 64).count() == 0)
    // pitJoin: a fact BEFORE the key's first version drops out (inner
    // join — the dimension doesn't cover it), one in-range fact matches
    // exactly one version even at an interval boundary
    val hist = Seq((1L, "a", "2024-01-02 00:00:00", "2024-01-03 00:00:00"),
        (1L, "b", "2024-01-03 00:00:00", null))
      .toDF("k", "state", "f", "t")
      .select($"k", $"state", $"f".cast("timestamp").as("valid_from"),
        $"t".cast("timestamp").as("valid_to"))
    val facts = Seq((100L, 1L, "2024-01-01 12:00:00"),  // before coverage
        (101L, 1L, "2024-01-03 00:00:00"))              // boundary → 'b'
      .toDF("fid", "k", "s")
      .select($"fid", $"k", $"s".cast("timestamp").as("ts"))
    val pit = Incremental.pitJoin(facts, hist, Seq("k"), "ts")
      .select("fid", "state").as[(Long, String)].collect().toSeq
    assert(pit == Seq((101L, "b")))
    // LTTB: a single-point series survives (the point is its own
    // first-and-last); empty input → empty
    val one = Seq((1L, "2024-01-01 00:00:00", 1L, 5.0))
      .toDF("user_id", "s", "event_id", "value")
      .select($"user_id", $"s".cast("timestamp").as("ts"), $"event_id", $"value")
    assert(TimeAgg.downsampleLttb(one, "user_id", "ts", "value",
      "event_id", 10).count() == 1)
    // interpolate: a single observation emits just itself
    val oneObs = Seq((1L, "2024-01-01 00:00:00", 3.0))
      .toDF("user_id", "s", "v")
      .select($"user_id", $"s".cast("timestamp").as("bucket"), $"v")
    val gi = TimeAgg.gapfillInterpolate(oneObs, "user_id", "bucket", "v", 3600)
      .collect()
    assert(gi.length == 1 && gi.head.getDouble(2) == 3.0)
    // state_agg / candlestick / uptime: empty input → empty, never a
    // window/agg error
    val noTs = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    assert(TimeAgg.stateAgg(noTs, "user_id", "event_type", "ts",
      "event_id").count() == 0)
    assert(TimeAgg.candlestick(noTs, Seq("user_id"), "ts", "event_id",
      "value").count() == 0)
    assert(TimeAgg.heartbeatUptime(noTs, "user_id", "ts", "event_id",
      1800).count() == 0)
    // MAD outliers: a constant group has MAD 0 → flags nothing (the
    // documented degeneracy), and a 1-row group cannot flag itself
    val const = Seq((1L, 1L, 5.0), (1L, 2L, 5.0), (1L, 3L, 5.0),
        (2L, 4L, 7.0))
      .toDF("user_id", "event_id", "value")
    assert(graft.operators.DataQuality.outliersMad(const, Seq("user_id"),
      "value", 3.0, 2).count() == 0)
    // filtered ANN: a query whose attribute block holds only itself
    // gets no neighbors (self excluded), not an error
    val lone = Seq((1L, Seq(1.0, 0.0), "a"), (2L, Seq(0.0, 1.0), "b"),
        (3L, Seq(1.0, 1.0), "b"))
      .toDF("vec_id", "embedding", "label")
    val fa = graft.operators.Similarity.filteredTopK(lone,
      lone.filter($"vec_id" === 1L || $"vec_id" === 2L),
      "vec_id", "embedding", "label", 5)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSeq
    assert(fa == Seq((2L, 3L)))
  }

  test("r8 operators on empty and degenerate input return sane results, not errors") {
    import graft.operators.Sketches
    val noVals = Seq.empty[(String, String, Double)].toDF("g", "day", "v")
    val nullVals = Seq(("a", "20240101", null.asInstanceOf[java.lang.Double]))
      .toDF("g", "day", "v")
    val ps = Seq(("p50", 0.5))
    // bins of empty / all-null input: empty frame, and the estimate
    // stage over it stays empty (no divide-by-zero rows)
    val emptyBins = Sketches.histBinCounts(noVals, Seq("g", "day"), col("v"),
      0.0, 10.0, 10)
    assert(emptyBins.count() == 0)
    assert(Sketches.histBinCounts(nullVals, Seq("g", "day"), col("v"),
      0.0, 10.0, 10).count() == 0)
    assert(Sketches.histPercentilesFromBins(
      Sketches.histMerge(emptyBins, Seq("g")), Seq("g"), ps, 0.0, 10.0, 10)
      .count() == 0)
    // a single-value group estimates that value's bin midpoint formula,
    // through the rollup path identically to the direct path
    val one = Seq(("a", "20240101", 3.2)).toDF("g", "day", "v")
    val direct = Sketches.histPercentiles(one, Seq("g"), col("v"),
      ps, 0.0, 10.0, 10)
    val rolled = Sketches.histPercentilesFromBins(
      Sketches.histMerge(
        Sketches.histBinCounts(one, Seq("g", "day"), col("v"), 0.0, 10.0, 10),
        Seq("g")), Seq("g"), ps, 0.0, 10.0, 10)
    assert(direct.exceptAll(rolled).count() == 0 && direct.count() == 1)
    // ANN stream: an empty micro-batch encodes to empty and the upsert
    // leaves the persisted index byte-equal (no spurious first-load)
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-ann").toString
    val emb = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", 2, 1)
      .zipWithIndex.map { case (cv, i) => (i, cv) }
    val cb = Similarity.trainPQ(
      Similarity.normalized(emb, "vec_id", "embedding"), 2, 2, 2, 1)
    val sink = graft.streaming.AnnIndexStream.foreachBatchSink(
      dir, "vec_id", "embedding", cents, cb)
    sink(emb, 0L)
    val before = Similarity.loadPqCodes(spark, dir)
      .select("nn_id", "cell", "codes").collect().toSet
    sink(emb.limit(0), 1L)
    val after = Similarity.loadPqCodes(spark, dir)
      .select("nn_id", "cell", "codes").collect().toSet
    assert(before == after && before.size == 2)
  }

  test("no-split packing degenerate shapes: seqLen=1, zero-token and oversize docs") {
    val df = Seq((1L, "a", 0), (2L, "a", 1), (3L, "a", 5), (4L, "a", 1))
      .toDF("doc_id", "lang", "n")
    // seqLen 1: every 1-token doc is its own full bin; the 5-token doc
    // is oversize → isolated; the 0-token doc shares nothing it can
    // overflow
    val got = Curation.packSequencesNoSplit(df, Seq("lang"), col("n"),
      col("n"), col("doc_id"), 1L)
    assert(got.count() == 4)
    val binSizes = got.groupBy("seq_id")
      .agg(sum("n").as("s"), count(lit(1)).as("c"))
    // no bin of in-budget docs exceeds seqLen
    assert(binSizes.filter(col("s") > 1 && col("c") > 1).count() == 0)
    // the oversize doc sits alone
    val ovBin = got.filter(col("n") === 5).select("seq_id").head().getLong(0)
    assert(got.filter(col("seq_id") === ovBin).count() == 1)
  }

  test("gapfill and sessionize handle empty and single-event streams") {
    val noEv = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("user_id", "bucket", "v")
    assert(TimeAgg.gapfillLocf(noEv, "user_id", "bucket", 3600,
      fillZero = Seq(), locf = Seq("v")).count() == 0)
    val oneEv = Seq((7L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0, 99L))
      .toDF("user_id", "ts", "value", "event_id")
    val sess = Sessionize.summarize(oneEv, "user_id", "ts", "event_id", "value", 1800)
    assert(sess.count() == 1)
  }
  test("r9 batch-3 operators return sane empties on empty input") {
    val noEv = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    assert(Sessionize.transitions(noEv, "user_id", "ts", "event_id",
      "event_type").count() == 0)
    assert(Sessionize.lastTouchAttribution(noEv, "user_id", "ts",
      "event_id", "event_type", Seq("click"), "purchase", 60L).count() == 0)
    assert(Sessionize.topPaths(noEv, "user_id", "ts", "event_id",
      "event_type", 1800, 5, 10).count() == 0)
    assert(Sessionize.stickiness(noEv, "user_id", "ts").count() == 0)
    assert(TimeAgg.twaInterpolated(noEv, "user_id", "ts", Seq("event_id"),
      "value", 3600, 4).count() == 0)
    val noSeries = Seq.empty[(Long, String, Long)].toDF("user_id", "day", "fs")
    assert(TimeAgg.ewma(noSeries, "user_id", "day", "fs", 8, 4).count() == 0)
    assert(TimeAgg.autocorr(noSeries, "user_id", "day", "fs", 1).count() == 0)
    assert(Curation.keywordSearch(noDocs, "doc_id", "text",
      Seq("x"), 5).count() == 0)
    assert(Curation.curriculumPhases(
      noDocs.select(col("doc_id")), Seq(col("doc_id").asc), 3).count() == 0)
    val noLangs = Seq.empty[(Long, String)].toDF("doc_id", "lang")
    assert(Curation.rebalanceMix(noLangs, "lang", Map("en" -> 1L),
      col("doc_id"), "|s").count() == 0)
    // a single event: no transition, no second day, one trivial path
    val oneEv = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      1L, "view", 1.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    assert(Sessionize.transitions(oneEv, "user_id", "ts", "event_id",
      "event_type").count() == 0)
    assert(Sessionize.topPaths(oneEv, "user_id", "ts", "event_id",
      "event_type", 1800, 5, 10).select("path").as[String].head() == "view")
    val st = Sessionize.stickiness(oneEv, "user_id", "ts")
      .select("dau", "wau").as[(Long, Long)].head()
    assert(st == ((1L, 1L)))
  }

  test("r10 operators return sane results on empty and degenerate input") {
    val noEv = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    assert(Sessionize.growthAccounting(noEv, "user_id", "ts").count() == 0)
    assert(Sessionize.activeStreaks(noEv, "user_id", "ts").count() == 0)
    assert(Sessionize.rfm(noEv, "user_id", "ts", "value").count() == 0)
    assert(graft.operators.DataQuality.rollingAnomalies(
      noEv, Seq("event_type"), "ts").count() == 0)
    assert(graft.operators.DataQuality.completeness(
      noEv, Seq("event_type"), "ts").count() == 0)
    assert(TimeAgg.seasonalBaseline(noEv, "event_type", "ts", "value")
      .count() == 0)
    // temperature sampling: empty corpus and total 0 both yield empty
    val noSrc = Seq.empty[(Long, String)].toDF("doc_id", "source")
    assert(Curation.temperatureSample(noSrc, "source", col("doc_id"),
      10L, "|s").count() == 0)
    val oneSrc = Seq((1L, "a"), (2L, "a")).toDF("doc_id", "source")
    assert(Curation.temperatureSample(oneSrc, "source", col("doc_id"),
      0L, "|s").count() == 0)
    // similarity: empty corpus/queries are empty results, not errors
    val noVec = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.operators.Similarity.matryoshkaTopK(noVec, noVec,
      "vec_id", "embedding", 5, 2, 5).count() == 0)
    assert(graft.operators.Similarity.mmrTopK(noVec, noVec,
      "vec_id", "embedding", 2, 3).count() == 0)
    // a single user on a single day: new on its day, churn clipped,
    // streak of one, complete calendar, quartiles all 1-ish but defined
    val oneEv = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      1L, "view", 2.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val g = Sessionize.growthAccounting(oneEv, "user_id", "ts")
      .select("n_new", "n_retained", "n_resurrected", "n_churned")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(g == Seq((1L, 0L, 0L, 0L)))
    val sk = Sessionize.activeStreaks(oneEv, "user_id", "ts")
      .select("streak_days").as[Long].head()
    assert(sk == 1L)
    val cm = graft.operators.DataQuality.completeness(
        oneEv, Seq("event_type"), "ts")
      .select("n_expected", "n_missing", "complete")
      .as[(Long, Long, Boolean)].head()
    assert(cm == ((1L, 0L, true)))
    val rf = Sessionize.rfm(oneEv, "user_id", "ts", "value")
      .select("recency_days", "frequency", "monetary", "segment")
      .as[(Int, Long, Double, String)].head()
    assert(rf == ((0, 1L, 2.0, "111")))
    // scene cuts on an empty media table
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload")
    assert(graft.operators.Multimodal.sceneCuts(noMedia, 4, 1, 1, 4)
      .count() == 0)
  }

  test("r11 operators return sane empties and singletons on degenerate input") {
    val noEv = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    // attribution family: no conversions → no credit rows at all
    assert(Sessionize.multiTouchAttribution(noEv, "user_id", "ts",
      "event_id", "event_type", Seq("click", "view"), "purchase",
      "value", 60L).count() == 0)
    // markov: empty matrix → zero probabilities, shares all zero
    val mk = Sessionize.markovAttribution(noEv, "user_id", "ts",
      "event_id", "event_type", Seq("click", "view"), "purchase")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(mk == Set(("click", 0L, 0L, 0L, 0L), ("view", 0L, 0L, 0L, 0L)))
    // ab test: no events → one empty-arm row pair with NULL stats
    val ab = graft.operators.DataQuality.abTest(noEv, "user_id",
      "event_type", "purchase", "value")
      .select("n_a", "n_b", "stat")
      .as[(Long, Long, Option[Double])].collect()
    assert(ab.length == 2 && ab.forall(r => r._1 == 0L && r._2 == 0L
      && r._3.isEmpty))
    // dsir on an empty corpus: nothing to rank
    assert(graft.operators.Curation.dsirSelect(noDocs, "doc_id", "text",
      lit(true), n = 5).count() == 0)
    // kmeans/semdedup on an empty corpus: no seeds, no cells, no rows
    val noEmb = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    assert(graft.operators.Similarity.kmeansAssign(noEmb, "vec_id",
      "embedding", k = 4, iters = 2).count() == 0)
    assert(graft.operators.Similarity.semDedup(noEmb, "vec_id",
      "embedding", k = 4, iters = 1, 3, 10).count() == 0)
    // a single vector is its own cluster and never a duplicate
    val one = Seq((5L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    assert(graft.operators.Similarity.kmeansAssign(one, "vec_id",
      "embedding", k = 4, iters = 2)
      .as[(Long, Int)].collect().toSeq == Seq((5L, 0)))
    assert(graft.operators.Similarity.semDedup(one, "vec_id",
      "embedding", k = 2, iters = 1, 3, 10).count() == 0)
    // rank eval with an empty candidate: zero recall/mrr/ndcg rows
    val truth = Seq((1L, 1, 10L)).toDF("query_id", "rank", "nn_id")
    val noCand = Seq.empty[(Long, Int, Long)].toDF("query_id", "rank", "nn_id")
    val re = graft.operators.Similarity.rankEval(truth, noCand, 5)
      .select("n_hit", "recall", "mrr", "ndcg")
      .as[(Long, Double, Double, Double)].head()
    assert(re == ((0L, 0.0, 0.0, 0.0)))
    // kmv set ops on two empty sides: zero everything, no div-by-zero
    val so = graft.operators.Sketches.kmvSetOps(
      noEv.select(col("user_id")), noEv.select(col("user_id")),
      col("user_id"), col("user_id"), k = 16)
      .select("k_used_union", "est_union", "jaccard", "est_intersection")
      .as[(Long, Double, Double, Double)].head()
    assert(so == ((0L, 0.0, 0.0, 0.0)))
    // LPA on an empty edge table
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.operators.Graphs.labelPropagation(noEdges, "src", "dst",
      iters = 2).count() == 0)
  }

  test("every observed graph loop returns an empty frame on an empty edge table") {
    // the loops read their convergence counts / totals off each pin's
    // pass; on an empty graph those rows carry zero counts and NULL
    // sums (hits' normalizer above all), which must still mean "empty
    // result", never an error
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val results = Seq(
      "hits" -> Graphs.hits(noEdges, "src", "dst", iters = 2),
      "kcore" -> Graphs.kcore(noEdges, "src", "dst", k = 2),
      "bfsDepth" -> Graphs.bfsDepth(noEdges, "src", "dst", seeds),
      "weighted pageRank" -> Graphs.pageRank(noEdges, "src", "dst", iters = 2,
        weight = Some("w")),
      "connectedComponents" -> Graphs.connectedComponents(noEdges, "src", "dst"),
      "scc" -> Graphs.scc(noEdges, "src", "dst", localThreshold = 0L),
      "condense" -> Graphs.condense(noEdges, "src", "dst", localThreshold = 0L))
    results.foreach { case (op, df) =>
      assert(df.collect().isEmpty, s"$op on an empty graph")
    }
    graft.operators.Pins.release(results.map(_._2): _*)
  }
}
