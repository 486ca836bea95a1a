package graft

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-volume scaling probe — answers the question a fixed-SF bench
  * can't: how much of each query's time is FIXED overhead (job setup,
  * codegen, small-file scheduling) versus data-proportional work, i.e.
  * whether any operator scales worse than linearly before it ever sees
  * a real cluster.
  *
  * Method: inflate the sf tables `mult`× IN MEMORY with deterministic
  * per-copy transforms that preserve the workload's statistical shape —
  * ids get disjoint offsets (group/bucket counts scale linearly), and
  * document text is caesar-rotated per copy (`translate`) so copies are
  * NOT near-duplicates of each other: naively unioning identical copies
  * would put every doc in the same shingle/minhash buckets 4× over and
  * measure an adversarial dedup blow-up (quadratic in `mult`), not data
  * scaling. Embedding copies flip one dimension's sign so LSH buckets
  * decorrelate across copies.
  *
  * Prints one JSON line: per probe, median seconds at 1× and at
  * `mult`×, and the ratio. Linear-or-better operators show
  * ratio <= mult (well below it while fixed overhead dominates at
  * these SFs). Run:
  * `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_SCALE_MULT=4 sbt "runMain graft.ScaleProbe"`.
  */
object ScaleProbe {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase
  // the 12 residues coprime to 26 — each yields a valid affine cipher
  private val CoprimeA = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Per-copy monoalphabetic substitution — deterministic, codegen'd
    * (`translate`), makes copy i's shingle space disjoint from copy
    * j's while preserving token/shingle counts exactly. Copy i maps
    * letter x to a·x+b (mod 26) with a = CoprimeA(i/26 mod 12),
    * b = i mod 26 — the affine-cipher family, 312 distinct
    * permutations. Two distinct affine maps agree on at most
    * gcd(a'−1, 26) letters, so cross-copy shingle collisions need
    * every character to be a fixed point — negligible. For i < 26
    * this is exactly the Caesar rotation earlier artifacts used, so
    * ≤16× rows stay comparable across rounds. */
  private def rot(c: org.apache.spark.sql.Column, i: Int) = {
    val a = CoprimeA((i / 26) % CoprimeA.size)
    val b = i % 26
    if (a == 1 && b == 0) c
    else {
      val mapped = Lower.indices.map(x => Lower((a * x + b) % 26)).mkString
      translate(c, Lower + Upper, mapped + mapped.toUpperCase)
    }
  }

  private def inflateDocs(docs: DataFrame, mult: Int): DataFrame =
    (0 until mult).map { i =>
      docs.select((col("doc_id") + lit(i * 100000000L)).as("doc_id"),
        rot(col("text"), i).as("text"), col("lang"), col("source"))
    }.reduce(_ unionByName _)

  private def inflateEvents(ev: DataFrame, mult: Int): DataFrame =
    (0 until mult).map { i =>
      ev.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
        (col("user_id") + lit(i * 1000000L)).as("user_id"),
        col("ts"), col("event_type"), col("value"))
    }.reduce(_ unionByName _)

  private def inflateEmb(emb: DataFrame, mult: Int): DataFrame = {
    // one flipped dimension per copy — distinct for copies 0..63;
    // past that copy i and copy i−64 share buckets and an emb probe
    // would measure the duplicate blow-up, so refuse
    require(mult <= 64,
      s"embedding decorrelation wraps past 64 copies, got $mult")
    (0 until mult).map { i =>
      val v = col("embedding").cast("array<double>")
      val flipped =
        if (i == 0) v
        else zip_with(v, sequence(lit(0), size(v) - 1), (x, j) =>
          when(j === lit(i % 64), -x).otherwise(x))
      emb.select((col("vec_id") + lit(i * 100000000L)).as("vec_id"),
        flipped.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "4").toInt
    // past 312 the affine-cipher family wraps (copy i == copy i-312)
    // and the probe would measure the adversarial duplicate blow-up
    // the transforms exist to prevent — refuse rather than mislead
    require(mult >= 1 && mult <= 312, s"mult must be in [1, 312], got $mult")
    val spark = GraftSession.local(GraftSession.cpus)
    // default = cpus (the bench profile); override to separate
    // "operator scales worse than linearly" from "a fixed partition
    // count made per-partition sorts spill at high mult" — a real
    // cluster's AQE grows partition counts with the data. The committed
    // 64x artifact was taken at 256 partitions.
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))

    // localCheckpoint the inflated inputs so the probe times the
    // OPERATOR, not the inflation projection re-run per query
    def mat(df: DataFrame): DataFrame = df.localCheckpoint()

    def probes(m: Int): Seq[(String, () => DataFrame)] = {
      // lazy like the TPC-H tables below: a SPARK_GRAFT_PROBE_ONLY
      // run must not pay to inflate+pin tables its probes never read
      lazy val docs = mat(inflateDocs(Tables.documents(spark, sfDir), m))
      lazy val ev = mat(inflateEvents(Tables.events(spark, sfDir), m))
      lazy val emb = mat(inflateEmb(Tables.embeddings(spark, sfDir), m))
      lazy val q = emb.filter(col("vec_id") % 100 === 0)
      // TPC-H tables for the d10–d12 join shapes — lazy (only forced
      // when one of those probes actually runs) with id offsets kept
      // CONSISTENT across tables so copy i's facts join copy i's dims
      lazy val ords = mat((0 until m).map { i =>
        Tables.orders(spark, sfDir).select(
          (col("o_orderkey") + lit(i * 100000000L)).as("o_orderkey"),
          (col("o_custkey") + lit(i * 1000000L)).as("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      }.reduce(_ unionByName _))
      lazy val li = mat((0 until m).map { i =>
        Tables.lineitem(spark, sfDir).select(
          (col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i * 1000000L)).as("l_partkey"),
          (col("l_suppkey") + lit(i * 1000000L)).as("l_suppkey"),
          col("l_linenumber"),
          col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
      }.reduce(_ unionByName _))
      lazy val cust = mat((0 until m).map { i =>
        Tables.customer(spark, sfDir).select(
          (col("c_custkey") + lit(i * 1000000L)).as("c_custkey"),
          col("c_mktsegment"), col("c_acctbal"))
      }.reduce(_ unionByName _))
      lazy val prt = mat((0 until m).map { i =>
        Tables.part(spark, sfDir).select(
          (col("p_partkey") + lit(i * 1000000L)).as("p_partkey"),
          col("p_brand"), col("p_size"), col("p_retailprice"))
      }.reduce(_ unionByName _))
      // boilerplate-heavy corpus for the archive-probe hot-bucket row:
      // 80% of docs collapse to ONE shared text, so every copy's band
      // buckets concentrate corpus-linear mass — the adversarial shape
      // the CorpusPipeline maxBucket valve exists for (uncapped, the
      // probe join expands quadratically in the hot bucket)
      lazy val hotDocs = mat(docs.select(col("doc_id"),
        when(col("doc_id") % 5 =!= 0,
          lit("all rights reserved standard legal boilerplate notice " +
            "repeated verbatim across the corpus pages"))
          .otherwise(col("text")).as("text")))
      lazy val hotIdx = mat(Dedup.minhashBandIndex(
        hotDocs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", 3, 16, 4))
      Seq(
        "e2_ngram_jaccard" -> (() =>
          Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.25, 100)),
        "e3_minhash_lsh" -> (() =>
          Dedup.minhashLsh(docs, "doc_id", "text", 3, 16, 4)),
        "h10_interdup" -> (() =>
          Dedup.sharedShingleRatio(docs, "doc_id", "text", 3)),
        "e7_dedup_spans" -> (() =>
          Dedup.removeRepeatedSpans(docs, "doc_id", "text", 3)),
        "h8_contamination" -> (() =>
          Curation.contaminationSplit(docs, "doc_id", "text", 3,
            col("doc_id") % 20 === 0)),
        // hashed-key modes of the shingle family (e3 is exempt by
        // construction: its shingle strings are digested map-side and
        // only (doc, h1, h2) longs ever shuffle) — the shuf1/shufN
        // fields quantify the exchange-byte drop that motivates
        // flipping the default in the network-bound regime
        "e2_ngram_jaccard_hashed" -> (() =>
          Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.25, 100,
            hashShingleKeys = true)),
        "h10_interdup_hashed" -> (() =>
          Dedup.sharedShingleRatio(docs, "doc_id", "text", 3,
            hashShingleKeys = true)),
        // RETIRED as a recommendation (r15): strictly slower than plain
        // at the 256p/64x cluster profile with no shuffle-byte win —
        // kept measurable as the exhibit behind SCALEPROBE_64x note_r15
        "e7_dedup_spans_hashed" -> (() =>
          Dedup.removeRepeatedSpans(docs, "doc_id", "text", 3,
            hashSpanKeys = true)),
        "h8_contamination_hashed" -> (() =>
          Curation.contaminationSplit(docs, "doc_id", "text", 3,
            col("doc_id") % 20 === 0, hashShingleKeys = true)),
        // the join-free bloom spelling: train-side shuffle collapses to
        // sketch merges regardless of corpus size — the shufN column is
        // the point of comparison against h8. 2^28 bits (32 MiB) now
        // that the build honors the request (pre-r5 a 2^30 ask was
        // silently clamped to Spark's 2^26 cap): the partial aggregation
        // allocates one numBits/8 buffer PER MAP TASK, so the probe
        // sizes for 32 concurrent tasks, not for the biggest sketch the
        // API allows
        "h13_contamination_bloom" -> (() =>
          Curation.contaminationBloom(docs.filter(col("doc_id") % 20 =!= 0),
            docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", 3,
            expectedItems = 4000000L, numBits = 1L << 28)),
        // auto-sized variant: adds the KMV vocabulary-estimate pass; the
        // ratio shows whether the extra pass stays data-proportional
        "h13_contamination_bloom_auto" -> (() =>
          Curation.contaminationBloomAuto(docs.filter(col("doc_id") % 20 =!= 0),
            docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", 3)),
        // e8 probes the APPLY join alone against a pre-materialized
        // cluster table (the deployment shape) — the bench's composite
        // spelling re-times the embedded e2+clustering instead
        "e8_dedup_apply" -> {
          lazy val cl = mat(Dedup.clusters(
            Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.25, 100),
            "doc_a", "doc_b"))
          () => Dedup.applyClusters(docs, "doc_id", cl, "doc_id", "cluster_id")
        },
        // char-LM scoring: the train pass's gram exchange carries per-
        // task DISTINCT grams (bounded vocab), the score pass is a
        // broadcast probe — the ratio should track the scan, not the
        // shuffle
        "h14_ngram_lm" -> (() =>
          Curation.ngramLmScore(docs, "doc_id", "text", 3)),
        // perceptual-hash media dedup: the fingerprint is a per-row
        // loop; only (id, 60-bit hash) rows ever shuffle, candidate
        // pairs stay bucket-local. The maxBucket valve is LOAD-BEARING:
        // byte-mass hashes cluster on homogeneous corpora, and the
        // uncapped probe read 35.8× at 16× (quadratic hot-bucket pair
        // expansion — the exact blow-up the valve bounds)
        "g5_mm_phash_dedup" -> (() =>
          Multimodal.phashNearDup(
            Multimodal.asMediaTable(docs, "doc_id", "text"),
            maxHamming = 12, maxBucket = 100)),
        // incremental dedup probe: the ARCHIVE index inflates with the
        // corpus, the incoming batch is fixed at the base slice (like
        // the ANN query sets) — the ratio isolates the index-side join
        // cost, which is what grows in production
        "e9_dedup_incremental" -> {
          lazy val idx = mat(Dedup.minhashBandIndex(
            docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", 3, 16, 4))
          () => Dedup.minhashLshAgainst(idx,
            docs.filter(col("doc_id") % 10 === 0 && col("doc_id") < 100000000L),
            "doc_id", "text", 3, 16, 4)
        },
        "k6_pack_sequences" -> (() =>
          Curation.packSequences(
            docs.select(col("doc_id"), col("lang"),
              graft.functions.TextFunctions.tokenCount(col("text")).as("n")),
            Seq("lang"), col("n"), col("n"), col("doc_id"), 2048L)),
        "k6b_pack_nosplit" -> (() =>
          Curation.packSequencesNoSplit(
            docs.select(col("doc_id"), col("lang"),
              graft.functions.TextFunctions.tokenCount(col("text")).as("n")),
            Seq("lang"), col("n"), col("n"), col("doc_id"), 512L)),
        "f7_quantize_int8" -> (() =>
          Similarity.quantizeInt8(emb, "vec_id", "embedding")),
        // full PQ pipeline: train + encode + ADC scan + rerank. The
        // QUERY SET IS FIXED at the base slice (copy 0 keeps original
        // ids) — a query batch does not grow with the corpus, and
        // letting it inflate 16× alongside measures a 256× pair blow-up,
        // not corpus scaling. The flat ADC scan is corpus-linear BY
        // DESIGN (that is what the f10 cell pruning removes); the probe
        // shows the per-candidate cost staying O(m) native codegen'd
        "f9_ann_pq" -> (() =>
          Similarity.pqTopK(emb,
            emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 100000000L),
            "vec_id", "embedding", 5,
            m = 8, nCodes = 16, iters = 2, shortlist = 1536, dim = 64)),
        // the IVFADC composition: same fixed queries, 4 of 16 cells
        // probed — the scanned candidate mass is a fixed FRACTION of the
        // corpus, so the ratio should sit near f9's fraction × its slope
        "f10_ann_ivf_pq" -> (() =>
          Similarity.ivfPqTopK(emb,
            emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 100000000L),
            "vec_id", "embedding", 5, nCells = 16, nProbe = 4,
            m = 8, nCodes = 16, iters = 2, shortlist = 64, dim = 64)),
        // ties-aware heap mode on an inflatable table (the registered d9
        // runs on orders⋈customer; the operator mechanics are identical)
        "d9_topk_rank_ties" -> (() =>
          graft.plans.TopKPerKey(
            ev.select(col("event_type"), col("event_id"),
              floor(col("value") / 10).as("band")),
            keys = Seq(col("event_type")),
            order = Seq(col("band").desc),
            k = 10, rankName = "rnk", mode = graft.plans.TopKMode.Ranked)),
        "b1_agg_daily" -> (() =>
          ev.groupBy(col("user_id"), TimeAgg.dayKey(col("ts")).as("day"))
            .agg(sum("value").as("v"), count(lit(1)).as("n"))),
        "d5_sessionize" -> (() =>
          Sessionize.summarize(ev, "user_id", "ts", "event_id", "value", 1800)),
        "f5_ann_lsh_multi" -> (() =>
          Similarity.lshTopKMulti(emb, q, "vec_id", "embedding", 5, 8, 4, 64)),
        // r6 hyperfunction family: window + agg on the SAME keys — the
        // one-shuffle claim PlanSpec asserts, probed for data scaling
        "b18_counter_delta" -> (() =>
          TimeAgg.counterDelta(ev.withColumn("day", TimeAgg.dayKey(col("ts"))),
            keys = Seq("user_id", "day"), reading = "value",
            order = Seq("ts", "event_id"), scale = 4)),
        "b19_time_weighted" -> (() =>
          TimeAgg.timeWeightedAvg(ev.withColumn("day", TimeAgg.dayKey(col("ts"))),
            keys = Seq("user_id", "day"), ts = "ts", tieBreak = Seq("event_id"),
            value = "value", scale = 4)),
        "b20_first_last" -> (() =>
          TimeAgg.firstLast(ev.withColumn("day", TimeAgg.dayKey(col("ts"))),
            keys = Seq("user_id", "day"), value = "value",
            order = Seq("ts", "event_id"))),
        "b21_moving_avg" -> (() => {
          import org.apache.spark.sql.expressions.Window
          val daily = ev.groupBy(col("user_id"), TimeAgg.dayKey(col("ts")).as("day"))
            .agg(sum(graft.functions.Portable.toFixed(col("value"), 4)).as("fs"))
          val w7 = Window.partitionBy("user_id").orderBy("day")
            .rowsBetween(-6, Window.currentRow)
          val wr = Window.partitionBy("user_id").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          daily.select(col("user_id"), col("day"),
            (col("fs").cast("double") / lit(1e4)).as("value_sum"),
            graft.functions.Portable.pround(
              sum(col("fs")).over(w7).cast("double") / lit(1e4)
                / count(lit(1)).over(w7), 4).as("mov_avg_7d"),
            (sum(col("fs")).over(wr).cast("double") / lit(1e4)).as("running_total"))
        }),
        "b22_regression" -> (() =>
          TimeAgg.regression(ev.withColumn("day", TimeAgg.dayKey(col("ts"))),
            keys = Seq("user_id", "day"), ts = "ts",
            periodStart = date_trunc("DAY", col("ts")), value = "value",
            scale = 4)),
        // r6 TPC-H join shapes: the semi/anti/broadcast-semi shuffles
        // PlanSpec asserts, probed at volume
        "d10_order_priority" -> (() => {
          val o = ords.filter(
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
          val returned = li.filter(col("l_returnflag") === "R")
            .select(col("l_orderkey"))
          o.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("order_count"))
        }),
        "d11_inactive_customers" -> (() => {
          val active = ords.filter(
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
            .select(col("o_custkey"))
          cust.join(active, col("c_custkey") === col("o_custkey"), "left_anti")
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n_customers"),
              graft.functions.Portable.fixedAvg(col("c_acctbal"), 4).as("avg_acctbal"))
        }),
        "d12_small_qty_revenue" -> (() => {
          val pk = prt.filter(col("p_brand") === "Brand#23")
            .select(col("p_partkey"))
          val scoped = li.join(broadcast(pk),
            col("l_partkey") === col("p_partkey"), "left_semi")
          val avgq = scoped.groupBy(col("l_partkey"))
            .agg(graft.functions.Portable.fixedAvg(col("l_quantity"), 4).as("avg_qty"))
          scoped.join(avgq, Seq("l_partkey"))
            .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
            .agg(graft.functions.Portable.pround(
              graft.functions.Portable.fixedSum(col("l_extendedprice"), 4)
                / lit(7.0), 4).as("avg_yearly"))
        }),
        // r7 shapes: the SCD2 point-in-time lookup (fan-out bounded by
        // versions-per-key — ratio should track the fact volume), the
        // Q13 pre-aggregated outer join (order rows never ride the
        // join), the Q15 broadcast-max (two agg passes + a one-row
        // join, no global window), and the bounded-heap priority
        // sample (map-side k-cap — the shuffle carries ≤ k rows per
        // task per stratum however big the corpus gets)
        "c7_pit_join" -> (() => {
          val e = ev.select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          val hist = Incremental.scd2(e, Seq("user_id"), col("ts"),
            order = Seq(col("ts"), col("event_id")),
            attrs = Seq("event_type"))
            .select(col("user_id"), col("event_type").as("state"),
              col("valid_from"), col("valid_to"))
          Incremental.pitJoin(e.select("event_id", "user_id", "ts"),
            hist, Seq("user_id"), "ts")
        }),
        "d13_order_count_dist" -> (() => {
          val perCust = ords.groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("__n"))
          cust.select(col("c_custkey"))
            .join(perCust, col("c_custkey") === col("o_custkey"),
              "left_outer")
            .select(coalesce(col("__n"), lit(0L)).as("c_count"))
            .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        }),
        "d14_top_supplier" -> (() => {
          val rev = li.filter(
            col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
            .groupBy(col("l_suppkey"))
            .agg(graft.functions.Portable.fixedSum(
              col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("total_revenue"))
          val mx = rev.agg(max(col("total_revenue")).as("__mx"))
          rev.join(broadcast(mx), col("total_revenue") === col("__mx"))
        }),
        "k7_priority_sample" -> (() =>
          Curation.prioritySample(
            docs.select(col("doc_id"), col("lang")),
            Seq("lang"), col("doc_id"), 50, "|s1")),
        // snapshot diff: two latest-state builds + one full-outer on
        // the key — delta-sized output however big the table
        "c8_snapshot_diff" -> (() => {
          val e = ev.select("user_id", "ts", "event_id", "event_type")
          val cutoff = lit("2024-01-08").cast("timestamp")
          Incremental.snapshotDiff(
            Incremental.upsertLatest(e.filter(col("ts") < cutoff),
              Seq("user_id"), Seq(col("ts"), col("event_id")))
              .select("user_id", "event_type"),
            Incremental.upsertLatest(e,
              Seq("user_id"), Seq(col("ts"), col("event_id")))
              .select("user_id", "event_type"),
            Seq("user_id"), Seq("event_type"))
        }),
        // exact z² outliers: one grouped pass + the aggregate join-back
        "dq2_outliers" -> (() =>
          DataQuality.outliers(ev.select("user_id", "event_id", "value"),
            Seq("user_id"), "value", k = 3, scale = 2)),
        // drift: each side reduces to (key, bin) counts map-side; all
        // later stages are sketch-sized — the ratio tracks the scans
        "dq4_drift" -> {
          lazy val half = ev.agg(expr(
            "percentile_approx(cast(ts as double), 0.5)")).head().getDouble(0)
          () => DataQuality.distributionDrift(
            ev.filter(col("ts").cast("double") <= half),
            ev.filter(col("ts").cast("double") > half),
            Seq("event_type"), col("value"), 0.0, 500.0, 20)
        },
        // LTTB downsample: one window family per series + the bounded-
        // heap argmax — user count scales with m, points-per-series flat
        "b24_downsample_lttb" -> (() =>
          TimeAgg.downsampleLttb(
            ev.select("user_id", "ts", "value", "event_id"),
            "user_id", "ts", "value", "event_id", nBuckets = 10, scale = 2)),
        // interpolating gapfill: window work on rollup-sized rows, the
        // spine explode is narrow — same discipline as b6
        "b25_gapfill_interp" -> (() => {
          val hourly = ev.groupBy(col("user_id"),
              TimeAgg.timeBucket(col("ts"), 3600).as("bucket"))
            .agg(graft.functions.Portable.fixedAvg(col("value"), 4)
              .as("avg_value"))
          TimeAgg.gapfillInterpolate(hourly, "user_id", "bucket",
            "avg_value", 3600)
        }),
        // count-min build+probe: the build exchange is SKETCH-sized
        // (≤ 4×1024 groups after map-side combine) however big the
        // corpus — the ratio should track the scan, the shufN column
        // should stay flat
        "b23_heavy_hitters" -> (() => {
          val terms = docs.select(
            explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
              t => length(t) > 0)).as("term"))
          val cms = Sketches.countMinTable(terms, "term", 4, 1024)
          Sketches.countMinEstimate(cms, terms.distinct(), "term", 4, 1024)
            .filter(col("est_count") >= 50)
        }),
        // chunking is NARROW (tokenize → sequence → posexplode → slice,
        // zero shuffles) — the ratio is pure scan+explode scaling
        "h15_chunk_tokens" -> (() =>
          Curation.chunkTokens(docs, "doc_id", "text", 64, 16)),
        // tf-idf: token explode → (doc, term) combine → vocabulary-
        // sized df join → bounded-heap top-k; the term join is the one
        // exchange that grows with the corpus
        "h16_tfidf_terms" -> (() =>
          Curation.topTfidfTerms(docs, "doc_id", "text", 5)),
        // Q18: per-order reduction before the join — only qualifying
        // (orderkey, sum) rows ride the orders join
        "d15_large_orders" -> (() => {
          val big = li.groupBy(col("l_orderkey"))
            .agg(graft.functions.Portable.fixedSum(col("l_quantity"), 4)
              .as("sum_qty"))
            .filter(col("sum_qty") > 200)
          ords.join(big, col("o_orderkey") === col("l_orderkey"))
        }),
        // Q21: the double-EXISTS rewrite — all legs key on l_orderkey
        // (supplier dim broadcast elided; the orderkey join family is
        // what scales)
        "d16_supplier_blame" -> (() => {
          val rPairs = li.filter(col("l_returnflag") === "R")
            .select(col("l_orderkey"), col("l_suppkey")).distinct()
          val allCnt = li.groupBy(col("l_orderkey"))
            .agg(countDistinct(col("l_suppkey")).as("n_supp"))
          val rCnt = rPairs.groupBy(col("l_orderkey"))
            .agg(count(lit(1)).as("n_r"))
          rPairs.join(allCnt, Seq("l_orderkey"))
            .join(rCnt, Seq("l_orderkey"))
            .filter(col("n_supp") >= 2 && col("n_r") === 1)
            .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
        }),
        // Q16: pair-distinct before the part join, broadcast anti
        "d17_supplier_variety" -> (() => {
          val pairs = li.select(col("l_partkey"), col("l_suppkey")).distinct()
          val bad = li.select(col("l_suppkey")).distinct()
            .filter(col("l_suppkey") % 17 === 0)
          pairs.join(broadcast(bad), Seq("l_suppkey"), "left_anti")
            .join(prt, col("l_partkey") === col("p_partkey"))
            .groupBy(col("p_brand"), col("p_size"))
            .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        }),
        // Q11: grouped value vs global scalar — the per-part exchange
        // is REUSED for the total (one lineitem pass, PlanSpec-asserted)
        "d18_revenue_concentration" -> (() => {
          val pr = li.groupBy(col("l_partkey"))
            .agg(sum(graft.functions.Portable.toFixed(
              col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
              .as("__vf"))
          val tot = pr.agg(sum(col("__vf")).as("__tot"),
            count(lit(1)).as("__n"))
          pr.join(broadcast(tot),
            col("__vf").cast("double") * col("__n") >
              lit(1.3) * col("__tot").cast("double"))
        }),
        // Q2: groupwise argmin — both legs reduce before the join, the
        // per-(part,supp) exchange reused for the per-part min
        "d19_cheapest_supplier" -> (() => {
          val ps = li.groupBy(col("l_partkey"), col("l_suppkey"))
            .agg(min(graft.functions.Portable.toFixed(
              col("l_extendedprice"), 4)).as("__pf"))
          val mn = ps.groupBy(col("l_partkey")).agg(min(col("__pf")).as("__mf"))
          ps.join(mn, Seq("l_partkey")).filter(col("__pf") === col("__mf"))
        }),
        // Q19: hand-factored disjunction — brand IN pushed to the part
        // scan, broadcast hash join, OR evaluated post-join
        "d20_disjunctive_revenue" -> (() => {
          val p = prt.filter(col("p_brand")
            .isin("Brand#12", "Brand#23", "Brand#34"))
          li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
            .filter(
              (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
              (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)) ||
              (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30)))
            .agg(graft.functions.Portable.fixedSum(
              col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"))
        }),
        // the CAPPED archive probe on the boilerplate corpus: without
        // maxBucket the hot bucket's pair expansion is quadratic in the
        // corpus; with the runCycle default the bucket is dropped before
        // the join and the ratio should track the batch, not the bucket
        "e9_incremental_hotbucket" -> (() =>
          Dedup.minhashLshAgainst(hotIdx,
            hotDocs.filter(col("doc_id") % 10 === 0 &&
              col("doc_id") < 100000000L),
            "doc_id", "text", 3, 16, 4, maxBucket = 100)),
        // Q7: the orderkey fact join + disjunctive nation-pair filter +
        // year agg (nations derived from keys — the dims broadcast and
        // are not what scales)
        "d21_nation_volume" -> (() => {
          val sn = (col("l_suppkey") % 25).as("supp_nation")
          val cn = (col("o_custkey") % 25).as("cust_nation")
          li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
            .join(ords, col("l_orderkey") === col("o_orderkey"))
            .select(sn, cn, col("l_shipdate"), col("l_extendedprice"),
              col("l_discount"))
            .filter((col("supp_nation") === 1 && col("cust_nation") === 2) ||
                    (col("supp_nation") === 2 && col("cust_nation") === 1))
            .groupBy(col("supp_nation"), col("cust_nation"),
              year(col("l_shipdate")).as("l_year"))
            .agg(graft.functions.Portable.fixedSum(
              col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"))
        }),
        // Q8: the conditional-ratio agg fed by the fact join — one
        // lineitem pass, num/den in the same agg
        "d22_market_share" -> (() => {
          val vf = graft.functions.Portable.toFixed(
            col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          li.join(ords.filter(col("o_custkey") % 5 === 1),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy(year(col("o_orderdate")).as("o_year"))
            .agg(graft.functions.Portable.pround(
              sum(when(col("l_suppkey") % 25 === 3, vf).otherwise(lit(0L)))
                .cast("double") / sum(vf).cast("double"), 6).as("mkt_share"))
        }),
        // Q10: global top-20 after the join-agg — TakeOrderedAndProject
        // must stay per-partition-heap-sized however big the fact gets
        "d23_returned_revenue" -> (() => {
          li.filter(col("l_returnflag") === "R")
            .join(ords.filter(
                col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("o_custkey"))
            .agg(graft.functions.Portable.fixedSum(
              col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"))
            .orderBy(col("revenue").desc, col("o_custkey").asc)
            .limit(20)
        }),
        // Q14: the one-scan CASE-ratio — flag from the broadcast dim,
        // both branches into the same aggregate
        "d24_promo_share" -> (() => {
          val p = prt.select(col("p_partkey"),
            (col("p_partkey") % 6 === 0).as("__promo"))
          val vf = graft.functions.Portable.toFixed(
            col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          li.filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
            .join(broadcast(p), col("l_partkey") === col("p_partkey"))
            .agg(graft.functions.Portable.pround(
              lit(100.0) *
                sum(when(col("__promo"), vf).otherwise(lit(0L))).cast("double") /
                sum(vf).cast("double"), 6).as("promo_share"))
        }),
        // Q9: amount expression folded into the scan projection, dims
        // broadcast, one (nation, year) exchange
        "d25_product_profit" -> (() => {
          li.join(broadcast(prt.filter(col("p_size") % 3 === 0)
              .select(col("p_partkey"), col("p_retailprice"))),
              col("l_partkey") === col("p_partkey"))
            .groupBy((col("l_suppkey") % 25).as("nation"),
              year(col("l_shipdate")).as("l_year"))
            .agg(graft.functions.Portable.fixedSum(
              col("l_extendedprice") * (lit(1) - col("l_discount")) -
                col("p_retailprice") * col("l_quantity"), 4).as("sum_profit"))
        }),
        // percentile rollup: raw reduces to (type, day, bin) counts in
        // the FIRST exchange — everything after is sketch-sized however
        // many readings flow in; the ratio should track the scan
        "b31_percentile_rollup" -> (() => {
          val bins = Sketches.histBinCounts(
            ev.withColumn("day", TimeAgg.dayKey(col("ts"))),
            Seq("event_type", "day"), col("value"), 0.0, 600.0, 600)
          Sketches.histPercentilesFromBins(
            Sketches.histMerge(
              bins.withColumn("month", substring(col("day"), 1, 6)),
              Seq("event_type", "month")),
            Seq("event_type", "month"),
            Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99)), 0.0, 600.0, 600)
        }),
        // retention: the distinct (entity, day) collapse is the only
        // input-sized stage; everything after is cohort-calendar-sized
        "c10_retention" -> (() =>
          Sessionize.retentionCohorts(ev, "user_id", "ts")),
        // funnel: one filtered grouped MIN per step, all keyed on the
        // entity — step frames shrink monotonically; the ratio tracks
        // the first step's scan+agg
        "c9_funnel" -> (() =>
          Sessionize.funnel(ev, "user_id", "ts", "event_type",
            Seq("view", "click", "purchase"), 3600L)),
        // as-of join: ONE shuffle (the tagged union sorted per key) —
        // never a per-row range scan; the ratio tracks the union size
        "d6_asof_join" -> (() =>
          TemporalJoin.asOf(ev.select("event_id", "user_id", "ts"),
            Incremental.upsertLatest(
              ords.select(col("o_custkey"), col("o_orderdate"),
                col("o_orderkey")),
              Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey"))),
            keys = ("user_id", "o_custkey"), times = ("ts", "o_orderdate"),
            payload = Seq("o_orderkey"))),
        // the staleness-bounded variant: same plan + one projection —
        // the ratio should match d6's
        "d29_asof_tolerance" -> (() =>
          TemporalJoin.asOf(ev.select("event_id", "user_id", "ts"),
            Incremental.upsertLatest(
              ords.select(col("o_custkey"), col("o_orderdate"),
                col("o_orderkey")),
              Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey"))),
            keys = ("user_id", "o_custkey"), times = ("ts", "o_orderdate"),
            payload = Seq("o_orderkey"), toleranceSeconds = 7 * 86400.0)),
        // bucketed range join: equi-join on (key, cell) with the range
        // as a post-filter — linear in matches, never a cross product
        "d7_range_join" -> (() =>
          TemporalJoin.countPriorWithin(
            ev.filter(col("event_type") === "click")
              .select("event_id", "user_id", "ts"),
            ev.filter(col("event_type") === "view").select("user_id", "ts"),
            keys = ("user_id", "user_id"), times = ("ts", "ts"),
            windowSeconds = 1800, countName = "n_prior_views")),
        // distinct rollup: the per-day distinct collapses map-side and
        // the bounded heap caps every exchange at partitions × k rows
        // per group — the ratio should track the scan
        "b32_distinct_rollup" -> (() => {
          val sk = Sketches.kmvBottomK(
            ev.withColumn("day", TimeAgg.dayKey(col("ts"))),
            Seq("event_type", "day"), col("user_id"), 256)
          Sketches.kmvEstimate(
            Sketches.kmvMerge(sk.withColumn("month", substring(col("day"), 1, 6)),
              Seq("event_type", "month"), 256),
            Seq("event_type", "month"), 256)
        }),
        // per-dimension stats: the one exchange carries ≤ partitions ×
        // dim fixed-point sum rows — corpus-size-independent; the
        // explode is what scales
        "f13_embedding_stats" -> (() =>
          Similarity.embeddingStats(emb, "vec_id", "embedding")),
        // centroid drift: two (key, dim) fixed-sum passes — exchanges
        // keys×dims-bounded; the explode scans are what scale
        "f16_embedding_drift" -> (() =>
          Similarity.embeddingDrift(
            emb.filter(col("vec_id") % 2 === 0),
            emb.filter(col("vec_id") % 2 === 1),
            "label", "embedding")),
        // per-dim encode under a FROZEN calibration (the deployment
        // shape): pure projection, the ratio is scan+project scaling
        "f14_quantize_per_dim" -> {
          lazy val scales = Similarity.perDimScales(Similarity.embeddingStats(
            emb.filter(col("vec_id") < 100000000L), "vec_id", "embedding"))
          () => Similarity.quantizeInt8PerDim(emb, "vec_id", "embedding", scales)
        },
        // counter rate: same one-shuffle window→agg family as b18 —
        // the ratio should match counterDelta's
        "b29_counter_rate" -> (() =>
          TimeAgg.counterRate(ev.withColumn("day", TimeAgg.dayKey(col("ts"))),
            keys = Seq("user_id", "day"), reading = "value", ts = "ts",
            order = Seq("ts", "event_id"), scale = 4)),
        // dense histogram: count partials bound the exchange at
        // groups × (n+2) rows however many readings flow in
        "b30_histogram" -> (() =>
          Sketches.histogram(ev, Seq("event_type"), col("value"),
            lo = 0.0, hi = 500.0, nBuckets = 20)),
        // Q12 dual CASE counts over the orderkey fact join — one pass,
        // the join is what scales
        "d27_linestatus_priority" -> (() => {
          val hi = (col("o_custkey") % 3 === 0)
          li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
            .join(ords, col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("l_linestatus"))
            .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
              sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
        }),
        // dbt-style check battery: the column-local checks fuse into one
        // scan; unique + relationships each add one keyed exchange whose
        // payload is violation-sized, not table-sized
        "dq1_checks" -> (() =>
          DataQuality.report(Seq(
            DataQuality.columnChecks(ev, Seq(
              ("not_null_user_id", col("user_id").isNull),
              ("not_null_value", col("value").isNull))),
            DataQuality.unique(ev, Seq("event_id")),
            DataQuality.relationships(ev, "user_id",
              cust.select(col("c_custkey")), "c_custkey")))),
        // per-language top n-grams through the bounded heap — the gram
        // count exchange is map-combined, the heap caps the final stage
        "h12_top_ngrams" -> (() => {
          val counts = docs.select(col("lang"),
              explode(graft.functions.TextFunctions.shingles(
                lower(col("text")), 3)).as("ngram"))
            .groupBy("lang", "ngram").agg(count(lit(1)).as("n_docs"))
          graft.plans.TopKPerKey(counts,
            keys = Seq(col("lang")),
            order = Seq(col("n_docs").desc, col("ngram").asc),
            k = 10, rankName = "rnk")
        }),
        // BPE pair-rank table: adjacent-pair counts, vocabulary²-bounded
        // map-combined shuffle — the scan is what scales
        "h17_bigram_stats" -> (() =>
          Curation.bigramStats(docs, "text", minCount = 5)),
        // BPE training: ONE corpus-sized word count; the merge loop runs
        // on the capped model-sized table — the ratio should track the
        // count pass, the loop is corpus-size-independent
        "h18_bpe_train" -> (() =>
          Curation.bpeTrain(docs, "text", numMerges = 30,
            topWords = 2000, minPairCount = 2)),
        // encode under a FROZEN merge table (the deployment shape): a
        // zero-shuffle codegen'd projection — pure scan+project scaling.
        // merges train lazily on the warm-up run (dropped from timing;
        // its one-off count shuffle is in the shufN column)
        "h19_bpe_encode" -> {
          lazy val merges = Curation.bpeMerges(Curation.bpeTrain(
            docs.filter(col("doc_id") < 100000000L), "text",
            numMerges = 30, topWords = 2000, minPairCount = 2))
          () => Curation.bpeEncode(docs, "doc_id", "text", merges)
        },
        // state_agg: one window + one agg — the shuffle is entity-
        // partitioned once and the agg rides the same exchange family
        "b26_state_agg" -> (() =>
          TimeAgg.stateAgg(ev, "user_id", "event_type", "ts", "event_id")),
        // candlestick: pure partial-aggregable hash agg — the exchange
        // must stay GROUP-sized (one OHLC candidate set per group per
        // task) however many readings flow in
        "b27_candlestick" -> (() =>
          TimeAgg.candlestick(
            ev.withColumn("day", TimeAgg.dayKey(col("ts"))),
            Seq("user_id", "day"), "ts", "event_id", "value")),
        "b28_uptime" -> (() =>
          TimeAgg.heartbeatUptime(ev, "user_id", "ts", "event_id", 1800)),
        // filtered ANN: per-attribute blocks — work scales with block
        // mass, never query × corpus
        "f12_ann_filtered" -> (() =>
          Similarity.filteredTopK(emb, q, "vec_id", "embedding", "label", 5)),
        // MAD outliers: one scan, one keys exchange, zero joins — the
        // r11 window pipeline
        "dq3_mad_outliers" -> (() =>
          graft.operators.DataQuality.outliersMad(
            ev.select("user_id", "event_id", "value"),
            Seq("user_id"), "value", 3.0, 2)),
        // bounded-bin MAD: the input is never shuffled — two pruned
        // passes, group-count-sized stats broadcast back
        "dq3b_mad_hist" -> (() =>
          graft.operators.DataQuality.outliersMadFromBins(
            ev.select("user_id", "event_id", "value"),
            Seq("user_id"), "value", 3.0, 0.0, 600.0, 600)),
        // t-closeness: map-combined class-value counts, broadcast
        // global counts; sketch-sized after the first aggregate
        "dq17_t_closeness" -> (() =>
          graft.operators.DataQuality.tCloseness(
            ev.select(col("event_type"),
              (col("user_id") % 1000).as("band"), col("event_type").as("v")),
            Seq("event_type", "band"), "v", t = 0.3)),
        // soft dedup: the E2 pair machinery + pair-graph clustering +
        // one id-keyed join back
        "e13_soft_dedup" -> (() =>
          Dedup.softDedupWeights(docs, "doc_id",
            Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.25, 100),
            "doc_a", "doc_b")),
        // weighted thinning alone: a pure codegen'd filter over a
        // constant-weight column — must scale with the scan
        "k13_weighted_thin" -> (() =>
          graft.operators.Curation.weightedThin(
            docs.withColumn("w", lit(500000L)), col("doc_id"), col("w"))),
        // modularity: endpoint-tag joins + degree agg + community agg
        // over the co-purchase graph and its LPA labels
        "l12_modularity" -> (() => {
          val edges = Graphs.cooccurrence(
            li.select(col("l_orderkey"), col("l_partkey")),
            "l_orderkey", "l_partkey", minSupport = 2L).localCheckpoint()
          Graphs.modularity(edges, "item_a", "item_b",
            Graphs.labelPropagation(edges, "item_a", "item_b", iters = 4))
        }),
        // Q6: pure scan+filter+agg — must scale with the SCAN alone
        // (shuffle stays one row per task)
        "d26_forecast_revenue" -> (() =>
          li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
            .agg(graft.functions.Portable.fixedSum(
              col("l_extendedprice") * col("l_discount"), 4).as("revenue"))),
        // Q20: the semi-chain — per-(part,supp) reduction before the
        // threshold compare; the distinct supplier set is what survives
        "d28_promotable_suppliers" -> (() => {
          val scoped = li.join(broadcast(prt
              .filter(col("p_partkey") % 6 === 0).select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_semi")
          val perPS = scoped.groupBy(col("l_partkey"), col("l_suppkey"))
            .agg(graft.functions.Portable.fixedSum(col("l_quantity"), 4)
              .as("qty"))
          val thresh = perPS.groupBy(col("l_partkey"))
            .agg(graft.functions.Portable.fixedAvg(col("qty"), 4).as("avg_qty"))
          perPS.join(thresh, Seq("l_partkey"))
            .filter(col("qty") > lit(2.0) * col("avg_qty"))
            .select(col("l_suppkey")).distinct()
        }),
        // fuzzy pairs: per-gram buckets (capped), bucket-local
        // levenshtein verify — the e2/e3 candidate-generation shape;
        // the ratio should track the gram explode + bucket exchange
        "e10_fuzzy_pairs" -> (() =>
          Dedup.fuzzyPairs(
            docs.select(col("doc_id"),
              lower(substring(col("text"), 1, 24)).as("title")),
            "doc_id", "title", maxDist = 2, q = 3, maxBucket = 100)),
        // CDF rollup: shares b31's bins pipeline; the probe estimates
        // fold to constants, so past the first exchange everything is
        // sketch-sized — the ratio must track the bin-count scan
        "b33_cdf_rollup" -> (() => {
          val bins = Sketches.histBinCounts(
            ev.withColumn("day", TimeAgg.dayKey(col("ts"))),
            Seq("event_type", "day"), col("value"), 0.0, 600.0, 600)
          Sketches.histCdfFromBins(
            Sketches.histMerge(
              bins.withColumn("month", substring(col("day"), 1, 6)),
              Seq("event_type", "month")),
            Seq("event_type", "month"),
            Seq(("r_50_5", 50.5), ("r_120_25", 120.25), ("r_420", 420.0)),
            0.0, 600.0, 600)
        }),
        // HTML extraction: zero-shuffle codegen'd projection — pure
        // scan+project scaling like h19
        "h20_html_extract" -> (() =>
          docs.select(col("doc_id"),
            graft.functions.TextFunctions.htmlToText(
              concat(lit("<html><body><script>var x=1;</script><p>"),
                col("text"), lit("</p></body></html>"))).as("extracted"))),
        // evidence scoring under a FROZEN model (deployment shape):
        // explode + broadcast join + doc-keyed agg — one shuffle whose
        // bytes are (doc_id, partial sums), never text; the model
        // trains once on the warm-up (dropped from timing)
        "h21_quality_classifier" -> {
          lazy val model = Curation.trainEvidenceModel(
            docs.filter(col("doc_id") % 2 === 0),
            "text", graft.functions.TextFunctions.qualityScoreFromProfile(
              col("text"), graft.functions.TextFunctions.textProfile(
                lower(col("text")))) >= 0.5, vocab = 256)
          () => Curation.evidenceScoreWith(docs, "doc_id", "text", model)
        },
        // Bloom-pruned join: the fact scan + probe filter is the
        // input-sized stage; the join's exchange carries only rows
        // that pass the sketch — the ratio should track the scan, and
        // shuffle bytes the (constant-selectivity) match count
        "d30_bloom_pruned_join" -> (() =>
          graft.operators.Skew.bloomPrunedJoin(
            li.select("l_orderkey", "l_extendedprice", "l_discount"),
            ords.filter(col("o_orderpriority") === "1-URGENT")
              .select("o_orderkey", "o_orderdate"),
            "l_orderkey", "o_orderkey")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(graft.functions.Portable.fixedSum(
            col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"),
            count(lit(1)).as("n_items"))),
        // top gaps: lag window + bounded-heap TopKPerKey
        "b37_top_gaps" -> (() =>
          TimeAgg.topGaps(ev, "user_id", "ts", "event_id", k = 3)),
        // asap: one fused multi-frame window + candidate-sized tail
        "b38_asap_smooth" -> (() =>
          TimeAgg.asapSmooth(
            ev.groupBy(col("user_id"), TimeAgg.dayKey(col("ts")).as("day"))
              .agg(sum(graft.functions.Portable.toFixed(col("value"), 4))
                .as("fs")),
            "user_id", "day", "fs", Seq(1, 2, 4, 8), 4)),
        // shard packing: one stratum window, running byte sum
        "g6_shard_pack" -> (() =>
          Multimodal.packShards(
            docs.select(col("doc_id"), col("lang"),
              length(col("text")).as("n_chars")),
            Seq("lang"), "doc_id", col("n_chars"), shardBytes = 4096)),
        // freshness: one map-combined grouped MAX — the cheapest pass
        "dq6_freshness" -> (() =>
          graft.operators.DataQuality.freshness(ev, Seq("event_type"),
            "ts", lit("2024-02-01 00:00:00").cast("timestamp"),
            3L * 24 * 3600, 10L * 24 * 3600)),
        // forward as-of: the d6 mirror — same one-shuffle tagged union
        "d32_asof_forward" -> (() =>
          TemporalJoin.asOfForward(ev.select("event_id", "user_id", "ts"),
            Incremental.upsertLatest(
              ords.select(col("o_custkey"), col("o_orderdate"),
                col("o_orderkey")),
              Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey"))),
            keys = ("user_id", "o_custkey"), times = ("ts", "o_orderdate"),
            payload = Seq("o_orderkey"))),
        // URL canonicalization + line filter: zero-shuffle projections
        "h24_url_canonical" -> (() =>
          docs.select(col("doc_id"),
            graft.functions.TextFunctions.canonicalizeUrl(
              concat(lit("HTTPS://Example.COM:443/p/"),
                col("doc_id").cast("string"),
                lit("?utm_source=x&b=2&a=1#f"))).as("canonical_url"))),
        "h25_line_filter" -> (() =>
          docs.select(col("doc_id"),
            graft.functions.TextFunctions.filterLines(
              concat(lit("Home\n"), col("text"), lit("\nmenu\nok")), 3)
              .as("f"))),
        // knn classify: broadcast query block + heap + vote tail
        "f17_knn_classify" -> (() =>
          Similarity.knnClassify(emb, q, "vec_id", "embedding", "label", 5)),
        // funnel velocity: same step frames as c9 + exact percentiles
        "c16_funnel_times" -> (() =>
          Sessionize.funnelTimes(ev, "user_id", "ts", "event_type",
            Seq("view", "click", "purchase"), 3600L)),
        // cohort LTV: one rollup + the anchored-exchange family
        "c15_cohort_value" -> (() =>
          Sessionize.cohortValue(ev, "user_id", "ts", "value")),
        // top paths: session window + bounded per-session arrays +
        // path-count agg + TakeOrdered
        "c13_top_paths" -> (() =>
          Sessionize.topPaths(ev, "user_id", "ts", "event_id",
            "event_type", gapSeconds = 1800, maxSteps = 5, k = 20)),
        // stickiness: ledger collapse (the input-sized stage) + 7-way
        // ledger explode + two keyed aggs
        "c14_stickiness" -> (() =>
          Sessionize.stickiness(ev, "user_id", "ts")),
        // growth accounting: ledger collapse + anchored window +
        // calendar-sized class/churn agg
        "c17_growth" -> (() =>
          Sessionize.growthAccounting(ev, "user_id", "ts")),
        // streaks: map-combined ledger collapse + entity re-key +
        // WindowGroupLimit argmax
        "c18_streaks" -> (() =>
          Sessionize.activeStreaks(ev, "user_id", "ts")),
        // rfm: entity rollup + three two-phase global ranks over the
        // ENTITY-sized frame
        "c19_rfm" -> (() =>
          Sessionize.rfm(ev, "user_id", "ts", "value")),
        // rolling anomalies: daily rollup (input-sized) + calendar
        // window; integer cross-multiplied test is projection-cheap
        "dq7_anomalies" -> (() =>
          DataQuality.rollingAnomalies(ev, Seq("event_type"), "ts")),
        // cusum changepoints: daily rollup (input-sized) + one
        // keys-hash window family over the calendar-sized frame
        "dq9_cusum" -> (() =>
          DataQuality.cusumChangepoints(ev, Seq("event_type"), "ts",
            slack = 0, threshold = 30)),
        // pagerank: edges partition once (pinned); each round is one
        // co-partitioned join + one dst-keyed map-combined agg
        "h28_link_rank" -> (() => {
          val pairs = li.select(col("l_orderkey"), col("l_suppkey"))
            .join(ords.select(col("o_orderkey"), col("o_custkey")),
              col("l_orderkey") === col("o_orderkey"))
            .select((col("o_custkey") * 2).as("src"),
              (col("l_suppkey") * 2 + 1).as("dst"))
          Graphs.pageRank(pairs.unionByName(
            pairs.select(col("dst").as("src"), col("src").as("dst"))),
            "src", "dst", iters = 6)
        }),
        // co-purchase: one pinned basket-partitioned frame, a
        // co-partitioned self-join, one pair-keyed count
        "l2_copurchase" -> (() =>
          Graphs.cooccurrence(li.select(col("l_orderkey"), col("l_partkey")),
            "l_orderkey", "l_partkey", minSupport = 2L)),
        // components: log-diameter label propagation over the
        // support>=2 co-purchase graph, node-keyed shuffles only
        "l1_components" -> (() =>
          Graphs.connectedComponents(
            Graphs.cooccurrence(li.select(col("l_orderkey"), col("l_partkey")),
              "l_orderkey", "l_partkey", minSupport = 2L),
            "item_a", "item_b")),
        // triangles: degree-oriented wedges bound the two-path join to
        // O(m^1.5) whatever the hub skew
        "l3_triangles" -> (() =>
          Graphs.triangles(
            Graphs.cooccurrence(li.select(col("l_orderkey"), col("l_partkey")),
              "l_orderkey", "l_partkey", minSupport = 2L),
            "item_a", "item_b")),
        // z-order key: one (min,max) agg pass + a zero-shuffle
        // literal-parameterized interleave projection
        "k11_zorder" -> (() =>
          Layout.zorderKey(li.select(col("l_orderkey"),
            col("l_partkey"), col("l_suppkey")),
            Seq("l_partkey", "l_suppkey"), bits = 8)),
        // seasonal baseline: daily rollup + (key, dow) agg + join-back,
        // everything after the rollup calendar-sized
        "b39_seasonal" -> (() =>
          TimeAgg.seasonalBaseline(ev, "event_type", "ts", "value")),
        // per-key calendar completeness: distinct collapse + one agg —
        // the spine never explodes
        "dq8_completeness" -> (() =>
          DataQuality.completeness(ev, Seq("event_type"), "ts")),
        // matryoshka cascade: prefix dots corpus-wide, full dots only
        // on the candidate-bounded survivors
        "f18_ann_matryoshka" -> (() =>
          Similarity.matryoshkaTopK(emb, q, "vec_id", "embedding",
            k = 5, mDims = 16, candidates = 20)),
        // scene cuts: codegen'd frame explode + signing, one media-keyed
        // lag window
        "g7_scene_cuts" -> (() =>
          Multimodal.sceneCuts(
            Multimodal.asMediaTable(docs, "doc_id", "text"),
            frameBytes = 64, everyNth = 2, cutHamming = 20)),
        // MMR rerank: pool build is the brute-force scan; the k greedy
        // stages are query-keyed and pool-bounded
        "f19_ann_mmr" -> (() =>
          Similarity.mmrTopK(emb, q, "vec_id", "embedding",
            k = 5, poolSize = 10)),
        // instant rate: one (ts desc) window + key agg
        "b40_instant_rate" -> (() =>
          TimeAgg.instantRate(ev, "user_id", "ts", "event_id", "value")),
        // keep-first span dedup: e7's shape + a span-keyed keeper agg
        "e11_dedup_spans_keep_first" -> (() =>
          Dedup.removeRepeatedSpans(docs, "doc_id", "text", 3,
            keepFirst = true)),
        // interval lookup: bucketized equi-join, residual filter
        "d33_interval_lookup" -> (() => {
          import spark.implicits._
          val bands = Seq(("bronze", 0.0, 50.0), ("silver", 50.0, 200.0),
            ("gold", 200.0, 1000.0)).toDF("tier", "lo", "hi")
          TemporalJoin.intervalLookup(
            ev.select("event_id", "user_id", "value"),
            bands, "value", "lo", "hi", 50.0)
        }),
        // cross-doc line dedup: posexplode + map-combined line counts +
        // small-side anti join + per-doc ordered reassembly
        "h27_line_dedup" -> (() =>
          Curation.lineDedup(
            docs.select(col("doc_id"),
              concat_ws("\n", lit("Home | About | Contact"), col("text"),
                concat(lit("ref: "), col("doc_id").cast("string")),
                lit("(c) example corp")).as("text")),
            "doc_id", "text", minDocs = 3)),
        // readability: zero-shuffle projection (two regex passes)
        "h26_readability" -> (() =>
          docs.select(col("doc_id"),
            graft.functions.TextFunctions.fleschScore(col("text"))
              .as("flesch"))),
        // temperature sample: stratum counts (collected model-sized) +
        // one per-stratum rank window
        "k10_temperature_sample" -> (() =>
          Curation.temperatureSample(docs, "source", col("doc_id"),
            total = 200L * m, salt = "|temp1")),
        // interpolated TWA: entity window + per-segment bucket explode
        // (output-spine-sized) + (entity, bucket) agg
        "b36_twa_interpolated" -> (() =>
          TimeAgg.twaInterpolated(ev, "user_id", "ts", Seq("event_id"),
            "value", bucketSeconds = 6 * 3600, scale = 4)),
        // EWMA: daily rollup agg + one entity window of `span` lags —
        // both stages input-sized, the ratio tracks them
        "b34_ewma" -> (() =>
          TimeAgg.ewma(
            ev.groupBy(col("user_id"), TimeAgg.dayKey(col("ts")).as("day"))
              .agg(sum(graft.functions.Portable.toFixed(col("value"), 4))
                .as("fs")),
            "user_id", "day", "fs", span = 8, scale = 4)),
        // autocorr: lag window + entity agg riding the same exchange
        "b35_autocorr" -> (() =>
          TimeAgg.autocorr(
            ev.groupBy(col("user_id"), TimeAgg.dayKey(col("ts")).as("day"))
              .agg(sum(graft.functions.Portable.toFixed(col("value"), 4))
                .as("fs")),
            "user_id", "day", "fs", k = 1)),
        // transitions: one entity window + (prev, curr) count agg —
        // the distinct-entity count is the widest stage
        "c11_transitions" -> (() =>
          Sessionize.transitions(ev, "user_id", "ts", "event_id",
            "event_type")),
        // attribution: one tagged entity window + sketch-sized agg
        "c12_attribution" -> (() =>
          Sessionize.lastTouchAttribution(ev, "user_id", "ts", "event_id",
            "event_type", Seq("click", "view"), "purchase", 7L * 24 * 3600)),
        // keyword search: postings build is term-filtered at the scan;
        // everything after is match-sized
        "h22_keyword_search" -> (() =>
          Curation.keywordSearch(docs, "doc_id", "text",
            Seq("spark", "window", "merge"), 20)),
        // curriculum: range repartition + sort + two linear passes
        // over the persisted sorted RDD — a distributed sort's scaling
        "k8_curriculum" -> (() =>
          Curation.curriculumPhases(
            docs.select(col("doc_id"),
              graft.functions.TextFunctions.qualityScoreFromProfile(
                col("text"), graft.functions.TextFunctions.textProfile(
                  lower(col("text")))).as("quality_score")),
            Seq(col("quality_score").desc, col("doc_id").asc),
            phases = 10)),
        // rebalance: count agg + one rank window per stratum
        "k9_rebalance" -> (() =>
          Curation.rebalanceMix(docs.select(col("doc_id"), col("lang")),
            "lang", Map("en" -> 2L, "de" -> 1L, "fr" -> 1L),
            col("doc_id"), "|mix1")),
        // NFC: pure zero-shuffle projection — scan+project scaling
        "h23_nfc_normalize" -> (() =>
          docs.select(col("doc_id"),
            graft.functions.TextFunctions.nfcNormalize(
              concat(col("text"), lit(" cafe\u0301 A\u030A")))
              .as("norm_text"))),
        // profile compare: one single-row agg per side — the exchange
        // carries ONE row regardless of input
        "dq5_profile" -> (() =>
          graft.operators.DataQuality.profileCompare(
            ev.filter(col("event_type") =!= "purchase"),
            ev.filter(col("event_type") === "purchase"),
            Seq(("value", 4)))),
        // fuzzy pairs: q-gram bucketed candidates + bucket-local exact
        // levenshtein — the e2/e3 bucket family's scaling
        "e10_fuzzy_pairs" -> (() =>
          Dedup.fuzzyPairs(
            docs.select(col("doc_id"),
              substring(col("text"), 1, 24).as("name")),
            "doc_id", "name", maxDist = 2, q = 3, maxBucket = 100)),
        // k-core: per round one map-combined degree count + two
        // edge-sized semi-joins; rounds data-bounded (early exit probe)
        "l6_kcore" -> (() =>
          Graphs.kcore(
            Graphs.cooccurrence(li.select(col("l_orderkey"), col("l_partkey")),
              "l_orderkey", "l_partkey", minSupport = 2L),
            "item_a", "item_b", k = 2L)),
        // scc: FB-coloring — trim semi-joins + node-keyed min-label
        // rounds with pointer jump; rounds data-bounded (probes), never
        // the O(n²) closure the oracle materializes
        "l13_scc" -> (() => {
          import org.apache.spark.sql.expressions.Window
          val f = li.filter(col("l_partkey") % 7 === 0 && col("l_quantity") <= 20)
            .select("l_orderkey", "l_linenumber", "l_partkey").distinct()
          val w = Window.partitionBy("l_orderkey")
            .orderBy("l_linenumber", "l_partkey")
          val e = f.withColumn("nxt", lead("l_partkey", 1).over(w))
            .filter(col("nxt").isNotNull && col("nxt") =!= col("l_partkey"))
            .select(col("l_partkey").as("src"), col("nxt").as("dst")).distinct()
          // localThreshold=1 pins the probe to the DISTRIBUTED
          // FB-coloring path — the 100 TB story this probe measures;
          // the gated bench sizes ride the single-task fast path
          Graphs.scc(e, "src", "dst", localThreshold = 1L)
        }),
        // condense: scc + relabel + longest-path relaxation rounds —
        // condensation-sized frames, rounds = DAG depth
        "l14_condense" -> (() => {
          import org.apache.spark.sql.expressions.Window
          val f = li.filter(col("l_partkey") % 7 === 0 && col("l_quantity") <= 20)
            .select("l_orderkey", "l_linenumber", "l_partkey").distinct()
          val w = Window.partitionBy("l_orderkey")
            .orderBy("l_linenumber", "l_partkey")
          val e = f.withColumn("nxt", lead("l_partkey", 1).over(w))
            .filter(col("nxt").isNotNull && col("nxt") =!= col("l_partkey"))
            .select(col("l_partkey").as("src"), col("nxt").as("dst")).distinct()
          Graphs.condense(e, "src", "dst", localThreshold = 1L)
        }),
        // golden record: one grouped max_by agg — combiner output on
        // the wire, one candidate per (key, field) per mapper
        "c20_golden_record" -> (() =>
          Incremental.goldenRecord(
            ev.select(col("user_id"), col("ts"), col("event_id"),
              when(col("event_id") % 2 === 1, lit(null).cast("double"))
                .otherwise(col("value")).as("value"),
              when(col("event_id") % 2 === 0, lit(null).cast("string"))
                .otherwise(col("event_type")).as("event_type")),
            "user_id", "ts", "event_id", Seq("value", "event_type"))),
        // benford: one scan + (keys, digit) count; report class-sized
        "dq12_benford" -> (() =>
          DataQuality.benford(
            li.select(col("l_returnflag"), col("l_extendedprice")),
            Seq("l_returnflag"), "l_extendedprice")),
        // fd audit: one grouped count(distinct) two-level expansion
        "dq13_fd_check" -> (() =>
          DataQuality.fdViolations(
            li.select(col("l_partkey"), col("l_returnflag")),
            Seq("l_partkey"), "l_returnflag")),
        // key skew: grouped count + bounded TakeOrdered + scalar join
        "dq14_key_skew" -> (() =>
          DataQuality.keySkew(ev.select(col("user_id")), "user_id",
            topN = 20)),
        // neighbor jaccard: the e2 bucket machinery with neighbors as
        // the shingle space — hub valve bounds the pair expansion
        "l7_neighbor_jaccard" -> (() =>
          Graphs.neighborJaccard(
            Graphs.cooccurrence(li.select(col("l_orderkey"), col("l_partkey")),
              "l_orderkey", "l_partkey", minSupport = 2L),
            "item_a", "item_b", threshold = 0.25, maxDegree = 200)),
        // containment: e2's bucketed candidates + both-direction ratios
        "e12_dedup_containment" -> (() =>
          Dedup.containmentPairs(docs, "doc_id", "text", k = 3,
            threshold = 0.5)),
        // bfs: frontier-sized join per round, visited-set anti-join;
        // rounds data-bounded (empty-frontier probe)
        "l8_bfs_depth" -> (() =>
          Graphs.bfsDepth(
            Graphs.cooccurrence(li.select(col("l_orderkey"), col("l_partkey")),
              "l_orderkey", "l_partkey", minSupport = 2L),
            "item_a", "item_b",
            li.select(col("l_partkey").as("node")).limit(50))),
        // item cosine: L2's two-shuffle pair machinery + a bucket-local
        // degree join
        "l9_item_cosine" -> (() =>
          Graphs.cooccurrenceCosine(li.select(col("l_orderkey"), col("l_partkey")),
            "l_orderkey", "l_partkey", minSupport = 2L,
            thresholdNum = 1L, thresholdDen = 10L)),
        // hits: per half-round one edge join + map-combined sum + a
        // one-row scalar-broadcast renorm — iteration cost edge-bound
        "l10_hits" -> (() =>
          Graphs.hits(ev.select((col("user_id") * 2).as("src"),
              ((col("event_id") % 997) * 2 + 1).as("dst")),
            "src", "dst", iters = 4)),
        // rolling percentile: one raw collapse to pinned bins, then
        // sketch-sized fan-out/merge/estimate
        "b41_rolling_pctl" -> (() => {
          val bins = Sketches.histBinCounts(
            ev.withColumn("day", TimeAgg.dayKey(col("ts"))),
            Seq("event_type", "day"), col("value"), 0.0, 600.0, 600)
          Sketches.histPercentilesFromBins(
            Sketches.histRollingBins(bins, Seq("event_type"), "day", 7),
            Seq("event_type", "day"), Seq(("p50", 0.5), ("p90", 0.9)),
            0.0, 600.0, 600)
        }),
        // cdc merge: log collapses map-side to one winning row per key
        // before ONE full-outer snapshot join
        "j14_apply_cdc" -> (() =>
          Incremental.applyCdc(
            cust.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment")),
            ev.select(col("user_id").as("c_custkey"), col("event_id"),
              when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
                .as("cdc_op"),
              col("value").as("c_acctbal"), col("event_type").as("c_mktsegment")),
            key = Seq("c_custkey"), seq = "event_id", op = "cdc_op",
            fields = Seq("c_acctbal", "c_mktsegment"))),
        // multi-touch: ONE entity range-window pass + in-row splits —
        // the probe catches any self-join regression (quadratic per
        // entity) the PlanSpec guard also forbids
        "c22_multi_touch" -> (() =>
          Sessionize.multiTouchAttribution(ev, "user_id", "ts",
            "event_id", "event_type", Seq("click", "view"), "purchase",
            "value", 7L * 24 * 3600)),
        // ab test: per-user rollup (the one input-sized exchange) + a
        // 2-row arm pivot
        "dq15_ab_test" -> (() =>
          DataQuality.abTest(ev, "user_id", "event_type", "purchase",
            "value")),
        // dsir: two vocab-sized model builds + one broadcast-probe
        // scoring scan + bounded TakeOrdered
        "k12_dsir_select" -> (() =>
          Curation.dsirSelect(docs, "doc_id", "text",
            col("source").isin("src0", "src1", "src2", "src3"), n = 40)),
        // kmeans: per-iteration corpus scans off the pinned fixed
        // projection; update state model-sized
        "f20_kmeans" -> (() =>
          Similarity.kmeansAssign(emb, "vec_id",
            "embedding", k = 8, iters = 2)),
        // semdedup — the GATED shape (AUTO-k since r12: k = ceil(
        // sqrt(n)), so cluster count grows with the corpus and the
        // in-cell pair term stays bounded; 64x probed 24.2x)
        "f21_semdedup" -> (() =>
          Similarity.semDedup(emb, "vec_id", "embedding",
            k = 0, iters = 2, thresholdNum = 3, thresholdDen = 10)),
        // the fixed-k EXHIBIT: cells grow linearly with the corpus and
        // in-cell pairs quadratically — 261x at 64x data, the r12
        // measurement that moved the gated query to auto. Kept in the
        // probe registry so the regression direction stays visible.
        "f21_semdedup_fixedk" -> (() =>
          Similarity.semDedup(emb, "vec_id", "embedding",
            k = 8, iters = 2, thresholdNum = 3, thresholdDen = 10)),
        // markov attribution: one entity window family + states²
        // count agg; the solve is matrix-sized driver work
        "c23_markov_attribution" -> (() =>
          Sessionize.markovAttribution(ev, "user_id", "ts", "event_id",
            "event_type", Seq("click", "view"), "purchase")),
        // LPA communities: per-round one edge join + (node, label)
        // count + bounded argmax off the pinned edge list
        "l11_communities" -> (() =>
          Graphs.labelPropagation(
            Graphs.cooccurrence(li.select(col("l_orderkey"), col("l_partkey")),
              "l_orderkey", "l_partkey", minSupport = 2L),
            "item_a", "item_b", iters = 4)),
        // kmv set ops: two map-combined bottom-k collapses; the rest
        // is k-sized
        "b42_distinct_setops" -> (() =>
          Sketches.kmvSetOps(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "view"),
            col("user_id"), col("user_id"), k = 256)),
        // rank eval: truth + candidate both k-bounded per query; the
        // searchers dominate, the report is query-set-sized
        "f22_ann_rank_eval" -> (() => {
          val normed = Similarity.normalized(emb, "vec_id", "embedding")
            .localCheckpoint()
          val q = normed.filter(col("nn_id") % 100 === 0)
            .select(col("nn_id").as("query_id"), col("cv").as("qv"))
          Similarity.rankEval(
            Similarity.bruteForceTopKNormed(normed, q, 5),
            Similarity.lshTopKNormed(normed, q, 5, 8, 64), 5)
        }))
    }

    // total shuffle-WRITE bytes of the jobs `run` launches — the number
    // that models network cost on a real cluster (local mode writes the
    // same shuffle files, it just reads them back over loopback)
    def shuffleBytes(run: () => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          acc.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        run()
        org.apache.spark.graft.ListenerBridge
          .waitUntilListenersProcessed(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }

    def timeIt(fn: () => DataFrame): (Double, Long) = {
      var bytes = 0L
      val times = (0 to 2).map { i =>
        val t0 = System.nanoTime()
        def run(): Unit = fn().write.format("noop").mode("overwrite").save()
        // bytes come from the warm-up run (deterministic per plan);
        // timed runs stay listener-free
        if (i == 0) bytes = shuffleBytes(run _) else run()
        (System.nanoTime() - t0) / 1e9
      }
      (times.drop(1).sorted.head, bytes) // warm-up dropped, best of 2
    }

    // comma-separated probe-name filter for local iteration on one
    // operator (the committed artifact always comes from a full run)
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def pick(ps: Seq[(String, () => DataFrame)]) =
      only.map(o => ps.filter(p => o(p._1))).getOrElse(ps)
    val base = pick(probes(1)).map { case (n, fn) => n -> timeIt(fn) }.toMap
    val scaled = pick(probes(mult)).map { case (n, fn) => n -> timeIt(fn) }.toMap
    val body = base.keys.toSeq.sorted.map { n =>
      val (t1, s1) = base(n); val (tm, sm) = scaled(n)
      val r = tm / t1
      f"""\"$n\":{\"t1\":$t1%.3f,\"t$mult\":$tm%.3f,\"ratio\":$r%.2f,\"shuf1\":$s1,\"shuf$mult\":$sm}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","mult":$mult,"sf":"$sfDir","probes":$body}""")
    spark.stop()
  }
}
