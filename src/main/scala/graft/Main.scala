package graft

import graft.pipelines.{CorpusPipeline, IotBatchPipeline}

/** One-command tour of the two master DAGs: a full IoT warehouse cycle
  * (extract → stage → daily/weekly/monthly agg cadences — the
  * reference's `iot_master_dag.py` shape) and a training-corpus
  * construction cycle (curate → exact/near dedup vs archive → append
  * commit), both against a temp warehouse over the sf0.001 testdata, in
  * a [[GraftSession]].
  *
  * `sbt run` (default main) or `sbt "runMain graft.Main [sfDir]"` —
  * prints each cycle's stats and exits 0. Both cycles are blindly
  * re-runnable (idempotent writes); running Main twice converges.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(GraftSession.cpus)
    val wh = java.nio.file.Files.createTempDirectory("graft-demo").toString
    println(s"[demo] input=$sfDir warehouse=$wh")

    // ---- IoT warehouse cycle (J7): one master-DAG run, all cadences
    val ev = sources.Tables.events(spark, sfDir)
    IotBatchPipeline.runCycles(ev, s"$wh/stage", Seq(
      IotBatchPipeline.dailyCadence(s"$wh/agg_daily"),
      IotBatchPipeline.weeklyCadence(s"$wh/agg_weekly"),
      IotBatchPipeline.monthlyCadence(s"$wh/agg_monthly")))
    println(s"[iot] staged=${spark.read.parquet(s"$wh/stage").count()}" +
      s" daily=${spark.read.parquet(s"$wh/agg_daily").count()}" +
      s" weekly=${spark.read.parquet(s"$wh/agg_weekly").count()}" +
      s" monthly=${spark.read.parquet(s"$wh/agg_monthly").count()}")

    // ---- corpus cycle (J8): one training-corpus ingestion run
    val docs = sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val st = CorpusPipeline.runCycle(docs, s"$wh/corpus", s"$wh/corpus_index")
    println(s"[corpus] landed=${st.nLanding} new=${st.nNew}" +
      s" quality_rejected=${st.nRejectedQuality}" +
      s" exact_dup=${st.nRejectedExact} near_dup=${st.nRejectedNearDup}" +
      s" accepted=${st.nAccepted} corpus=${st.corpusSize}")

    // ---- ANN index cycle (I18's batch half): train once, persist the
    // frozen model + encoded index, reload, serve a query batch
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    val emb = sources.Tables.embeddings(spark, sfDir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", 16, 2)
      .zipWithIndex.map { case (cv, i) => (i, cv) }
    val cb = Similarity.trainPQ(
      Similarity.normalized(emb, "vec_id", "embedding"), dim, 8, 16, 2)
    Similarity.saveIvfCentroids(spark, s"$wh/ann", cents)
    Similarity.savePqIndex(s"$wh/ann", cb,
      streaming.AnnIndexStream.encodeBatch(emb, "vec_id", "embedding", cents, cb))
    val hits = Similarity.pqTopKWith(
      Similarity.normalized(emb, "vec_id", "embedding"),
      Similarity.loadPqCodes(spark, s"$wh/ann").select("nn_id", "codes"),
      Similarity.normalizedQueries(
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding"),
      Similarity.loadPqCodebooks(spark, s"$wh/ann"),
      k = 5, shortlist = 256, dim = dim)
    println(s"[ann] indexed=${Similarity.loadPqCodes(spark, s"$wh/ann").count()}" +
      s" queries=${hits.select("query_id").distinct().count()}" +
      s" hits=${hits.count()}")

    // ---- tokenizer cycle (H18/H19): learn the BPE merge table on the
    // committed corpus, encode it back, report the compression
    import graft.operators.{Curation, DataQuality}
    val corpus = spark.read.parquet(s"$wh/corpus")
    val merges = Curation.bpeMerges(
      Curation.bpeTrain(corpus, "text", numMerges = 50, topWords = 2000))
    val encStats = Curation.bpeEncode(corpus, "doc_id", "text", merges)
      .agg(count(lit(1)).as("docs"), sum(col("n_pieces")).as("pieces")).head()
    println(s"[bpe] merges=${merges.size} docs=${encStats.getLong(0)}" +
      s" pieces=${encStats.getLong(1)}")

    // ---- drift check (DQ4): value-distribution shift between the
    // staged window's first and second half, per event type
    val cutTs = ev.agg(
      org.apache.spark.sql.functions.expr(
        "percentile_approx(cast(ts as double), 0.5)")).head().getDouble(0)
    val worst = DataQuality.distributionDrift(
        ev.filter(col("ts").cast("double") <= cutTs),
        ev.filter(col("ts").cast("double") > cutTs),
        Seq("event_type"), col("value"), lo = 0.0, hi = 500.0, nBins = 20)
      .orderBy(col("tv_dist").desc).head()
    println(s"[drift] worst_key=${worst.getString(0)}" +
      s" tv=${worst.getDouble(3)} max_bin=${worst.getDouble(4)}")

    // ---- product analytics (C9/C11/C12/C14): funnel, top transition,
    // last-touch attribution and stickiness over the staged events
    val funnelTop = graft.operators.Sessionize.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), 3600L)
      .orderBy(col("step")).collect()
    val topTrans = graft.operators.Sessionize.transitions(ev, "user_id", "ts", "event_id",
        "event_type")
      .orderBy(col("n_transitions").desc).head()
    val attributed = graft.operators.Sessionize.lastTouchAttribution(ev, "user_id", "ts",
        "event_id", "event_type", Seq("click", "view"), "purchase",
        7L * 24 * 3600)
      .orderBy(col("n_conversions").desc).head()
    println(s"[analytics] funnel=${funnelTop.map(r =>
        s"${r.getString(1)}:${r.getLong(2)}").mkString(">")}" +
      s" top_path_hop=${topTrans.getString(0)}>${topTrans.getString(1)}" +
      s" top_credit=${attributed.getString(0)}:${attributed.getLong(1)}")

    // ---- growth dashboard (C17/C18/C19, r10): the quick-ratio
    // decomposition, longest streak and an RFM cell off the same events
    val lastGrowth = graft.operators.Sessionize
      .growthAccounting(ev, "user_id", "ts")
      .orderBy(col("day").desc).head()
    val topStreak = graft.operators.Sessionize
      .activeStreaks(ev, "user_id", "ts")
      .orderBy(col("streak_days").desc, col("user_id")).head()
    val champions = graft.operators.Sessionize.rfm(ev, "user_id", "ts", "value")
      .filter(col("segment") === "444").count()
    println(s"[growth] last_day=${lastGrowth.getDate(0)}" +
      s" new=${lastGrowth.getLong(1)} retained=${lastGrowth.getLong(2)}" +
      s" resurrected=${lastGrowth.getLong(3)} churned=${lastGrowth.getLong(4)}" +
      s" longest_streak=${topStreak.getLong(1)}d champions_444=$champions")

    // ---- attribution models side by side (C12/C22/C23, r11): the
    // same conversions credited three ways — last-touch counts,
    // position-model µ¢ splits, and the Markov removal-effect shares;
    // the disagreement between them IS the demo
    val mt = graft.operators.Sessionize.multiTouchAttribution(ev,
        "user_id", "ts", "event_id", "event_type", Seq("click", "view"),
        "purchase", "value", 7L * 24 * 3600)
      .orderBy(col("touch_type")).collect()
    val mk = graft.operators.Sessionize.markovAttribution(ev, "user_id",
        "ts", "event_id", "event_type", Seq("click", "view"), "purchase")
      .orderBy(col("channel")).collect()
    println(s"[attribution] position=${mt.map(r =>
        s"${r.getString(0)}:${r.getLong(4) / 1000000}").mkString(",")}" +
      s" markov_share=${mk.map(r =>
        s"${r.getString(0)}:${r.getLong(4) / 10000}%").mkString(",")}")

    // ---- freshness gate (DQ6): the dbt source-freshness contract
    // against the staged window's own end instant
    val asOf = ev.agg(org.apache.spark.sql.functions.max(col("ts"))).head()
      .getTimestamp(0)
    val stale = DataQuality.freshness(ev, Seq("event_type"), "ts",
        org.apache.spark.sql.functions.lit(asOf),
        warnAfterSeconds = 24 * 3600, errorAfterSeconds = 7 * 24 * 3600)
      .filter(col("status") =!= "ok").count()
    println(s"[freshness] non_ok_sources=$stale")
    spark.stop()
  }
}
