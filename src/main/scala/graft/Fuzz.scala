package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Portable
import graft.functions.Portable.{fixedSum, pround, sqlPround}
import graft.operators.{Curation, DataQuality, Dedup, Graphs, Sessionize, Similarity, Sketches, TimeAgg}
import graft.sources.Tables

import java.nio.file.{Files, Paths}
import scala.util.Random

/** Randomized-parameter oracle fuzzing (r11 verdict next-round #6).
  *
  * The fixed-fixture oracle gate ([[Verify]]) proved blind to boundary
  * drift once: the DQ16 fixture bug survived nine rounds because its
  * parameters never moved. This harness re-runs the SAME
  * Spark-vs-DuckDB comparison with parameters DRAWN at random from a
  * logged seed — bucket widths, percentiles, k/l/t thresholds, gap
  * seconds, sample rates, chunk geometry, token budgets — so each
  * round exercises fresh boundaries of ~11 operator families.
  *
  * Drift-proof oracles: each fuzz oracle is the CANONICAL
  * [[SparkEntry.oracleSql]] text with the drawn parameter substituted
  * into the one literal it replaces (`sub` requires the pattern to be
  * present — a refactor that breaks the tie fails loudly here), so the
  * fuzzed pair can never quietly test different semantics than the
  * gated pair. Output layout is Verify's exactly: one parquet dir per
  * draw + `oracle_sql.json`, checked by `tools/check_oracle.py`.
  *
  * Run: `sbt "runMain graft.Fuzz SF_DIR OUT_DIR"`, then
  * `python3 tools/check_oracle.py SF_DIR OUT_DIR`. Knobs:
  * `SPARK_GRAFT_FUZZ_SEED` (default 20260815 — logged in the stdout
  * JSON line and in `fuzz_params.json`), `SPARK_GRAFT_FUZZ_DRAWS`
  * (default 2x the family count, round-robin so every family gets 2
  * draws at the default).
  *
  * r13 adds DATA-SHAPE fuzzing beside parameter fuzzing
  * ([[dataFamilies]]): both real bugs of the r12 cycle were data-shape
  * bugs the parameter fuzzer could never catch because it holds the
  * fixture constant. A data-shape draw REDRAWS THE INPUT parquet from
  * the logged seed (NULL densities, empty groups, single-event
  * entities, all-tied orderings, pre-2000 timestamps) into a temp dir,
  * runs the UNCHANGED canonical query and oracle over it, and checks
  * the same way — the oracle text is constant, the data varies. */
object Fuzz {

  /** Parameter-substituted copy of a canonical oracle: loud when the
    * anchor text is gone (the canonical SQL changed shape) AND when its
    * occurrence count drifts from the declared expectation — a future
    * canonical-oracle edit that introduces a second occurrence of a
    * 1-expected anchor would otherwise silently mutate an unintended
    * literal while a bare contains() check still passed (ADVICE r12).
    * Families whose anchor legitimately appears twice (d29's two CASE
    * arms, d9's two identical band expressions) declare `expected = 2`. */
  private def sub(sql: String, from: String, to: String,
                  expected: Int = 1): String = {
    val found = sql.sliding(from.length).count(_ == from)
    require(found > 0,
      s"fuzz oracle anchor '$from' not found in canonical SQL — retie it")
    require(found == expected,
      s"fuzz oracle anchor '$from' occurs $found times (expected $expected)" +
        " — the canonical SQL changed shape; retie the substitution")
    sql.replace(from, to)
  }
  private def canonical(name: String): String =
    (SparkEntry.oracleSql ++ SparkEntry.fuzzOracleSql)(name)

  /** TVF arg-surface probe (r13 verdict #7): the malformed call MUST
    * fail loudly with a message — anywhere in the cause chain — naming
    * `mustName` (the function, or the violated constraint). Silent
    * acceptance, or an anonymous downstream error, fails the draw. */
  private def probeFail(s: SparkSession, sql: String,
                        mustName: String): Unit = {
    val thrown =
      try { s.sql(sql).collect(); None }
      catch { case e: Throwable => Some(e) }
    thrown match {
      case None => throw new IllegalStateException(
        s"TVF arg probe silently ACCEPTED (expected loud failure naming " +
          s"'$mustName'): $sql")
      case Some(e) =>
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).take(8)
          .map(t => String.valueOf(t.getMessage)).mkString(" | ")
        require(msgs.contains(mustName),
          s"TVF failure for [$sql] does not name '$mustName': $msgs")
    }
  }

  final case class Draw(family: String, params: String,
                        fn: (SparkSession, String) => DataFrame,
                        oracle: String)

  /** One draw per family per call — all randomness flows through `r`.
    * private[graft] so FuzzSpec can construct every family's draws
    * (building a Draw runs the oracle-anchor checks eagerly). */
  private[graft] def families: Seq[(String, Random => Draw)] = Seq(
    "b5_bucket" -> { r =>
      val w = 1 + r.nextInt(12) // bucket width, hours
      Draw("b5_bucket", s"w=${w}h",
        (s, d) => Tables.events(s, d).groupBy(col("user_id"),
            TimeAgg.timeBucket(col("ts"), w * 3600).cast("string").as("bucket"))
          .agg(count(lit(1)).as("n_events"), fixedSum(col("value"), 4).as("value_sum")),
        sub(canonical("b5_agg_hourly_bucket"),
          "INTERVAL '4 hours'", s"INTERVAL '$w hours'"))
    },
    "b8_pctl" -> { r =>
      // Gate caveat (ADVICE r12): Spark percentile() and DuckDB
      // quantile_cont both interpolate linearly but may differ in the
      // last double ulp; a draw whose interpolated value lands within
      // an ulp of a .00005 boundary can flip the 4th rounded decimal
      // and FAIL spuriously. A b8 fuzz FAIL must be re-verified with a
      // tolerance check (|spark-duckdb| <= 1e-4) before being treated
      // as a real divergence — see the verify skill's fuzz section.
      val pct = 5 + r.nextInt(91) // percentile in [5, 95]
      val p = "0.%02d".format(pct)
      Draw("b8_pctl", s"p=$p",
        (s, d) => Tables.events(s, d).groupBy(col("event_type")).agg(
          pround(expr(s"percentile(value, ${p}D)"), 4).as("pq"),
          count(lit(1)).as("n_events")),
        s"""SELECT event_type, ${sqlPround(s"quantile_cont(value, $p)", 4)} AS pq,
           |  count(*) AS n_events FROM events GROUP BY 1""".stripMargin)
    },
    "d4_topk" -> { r =>
      val k = 1 + r.nextInt(10)
      Draw("d4_topk", s"k=$k",
        (s, d) => {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("c_mktsegment"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          Tables.orders(s, d)
            .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
            .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
            .withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= k)
        },
        sub(canonical("d4_topk_per_group"), "rnk <= 3", s"rnk <= $k"))
    },
    "d5_gap" -> { r =>
      val g = 300 + r.nextInt(6901) // session gap seconds in [300, 7200]
      Draw("d5_gap", s"gap=${g}s",
        (s, d) => Sessionize.summarize(Tables.events(s, d),
          "user_id", "ts", "event_id", "value", g),
        sub(canonical("d5_sessionize"), "> 1800", s"> $g"))
    },
    "dq10_k" -> { r =>
      val k = 2 + r.nextInt(19)
      val div = Seq(500, 1000, 2000)(r.nextInt(3)) // quasi band width
      Draw("dq10_k", s"k=$k,band=$div",
        (s, d) => DataQuality.kAnonymity(
          Tables.customer(s, d).select(col("c_nationkey"),
            floor(col("c_acctbal") / div).as("acct_band")),
          Seq("c_nationkey", "acct_band"), k = k.toLong),
        sub(sub(canonical("dq10_k_anonymity"),
          "/ 1000", s"/ $div"), "count(*) < 5", s"count(*) < $k"))
    },
    "dq11_l" -> { r =>
      val l = 2 + r.nextInt(4)
      Draw("dq11_l", s"l=$l",
        (s, d) => DataQuality.lDiversity(
          Tables.customer(s, d).select(col("c_nationkey"),
            floor(col("c_acctbal") / 1000).as("acct_band"),
            col("c_mktsegment")),
          Seq("c_nationkey", "acct_band"), "c_mktsegment", l = l.toLong),
        sub(canonical("dq11_l_diversity"), "< 3", s"< $l"))
    },
    "dq17_t" -> { r =>
      val t = (5 + r.nextInt(56)) / 100.0 // TV threshold in [0.05, 0.60]
      val ts = "%.2f".format(t)
      Draw("dq17_t", s"t=$ts",
        (s, d) => DataQuality.tCloseness(
          Tables.customer(s, d).select(col("c_nationkey"),
            floor(col("c_acctbal") / 1000).as("acct_band"),
            col("c_mktsegment")),
          Seq("c_nationkey", "acct_band"), "c_mktsegment", t = t),
        sub(canonical("dq17_t_closeness"), "tv > 0.3", s"tv > $ts"))
    },
    "k1_rate" -> { r =>
      val rate = 1 + r.nextInt(99) // keep-rate per 100 buckets
      Draw("k1_rate", s"rate=$rate",
        (s, d) => Curation.hashSample(Tables.documents(s, d),
            col("doc_id"), rate)
          .select(col("doc_id"), col("lang"),
            Curation.hashBucket(col("doc_id"), 100).as("bucket")),
        sub(canonical("k1_hash_sample"), "% 100 < 37", s"% 100 < $rate"))
    },
    "k7_quota" -> { r =>
      val n = 5 + r.nextInt(96)
      val salt = "|f" + r.nextInt(1000)
      Draw("k7_quota", s"n=$n,salt=$salt",
        (s, d) => Curation.prioritySample(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          Seq("lang"), col("doc_id"), n, salt),
        sub(sub(canonical("k7_priority_sample"),
          "'|s1'", s"'$salt'"), "<= 50", s"<= $n"))
    },
    "h15_chunk" -> { r =>
      val chunk = 16 + r.nextInt(113) // [16, 128]
      val overlap = r.nextInt(chunk / 2 + 1)
      val step = chunk - overlap
      Draw("h15_chunk", s"chunk=$chunk,overlap=$overlap",
        (s, d) => Curation.chunkTokens(Tables.documents(s, d),
          "doc_id", "text", chunk, overlap),
        // written fresh (not text-substituted): chunk/step literals
        // appear multiple times and can collide with each other
        s"""WITH t AS (${SparkEntry.tokCte("documents", lower = false)}),
           |n AS (SELECT doc_id, tok, len(tok) AS n FROM t WHERE len(tok) > 0)
           |SELECT doc_id, s // $step AS chunk_id, s AS start_token,
           |  least($chunk, n - s) AS n_tokens,
           |  array_to_string(tok[s + 1 : s + $chunk], ' ') AS chunk_text
           |FROM n, LATERAL unnest(range(0, CAST(n AS BIGINT), $step)) AS u(s)"""
          .stripMargin)
    },
    "d7_window" -> { r =>
      val m = 5 + r.nextInt(116) // range-join window, minutes
      Draw("d7_window", s"window=${m}min",
        (s, d) => {
          val e = Tables.events(s, d)
          graft.operators.TemporalJoin.countPriorWithin(
            e.filter(col("event_type") === "click")
              .select("event_id", "user_id", "ts"),
            e.filter(col("event_type") === "view").select("user_id", "ts"),
            keys = ("user_id", "user_id"), times = ("ts", "ts"),
            windowSeconds = m * 60L, countName = "n_prior_views")
        },
        sub(canonical("d7_range_join"),
          "INTERVAL 30 MINUTE", s"INTERVAL $m MINUTE"))
    },
    "d29_tol" -> { r =>
      val t = 1 + r.nextInt(30) // as-of tolerance, days
      Draw("d29_tol", s"tol=${t}d",
        (s, d) => {
          val oDedup = graft.operators.Incremental.upsertLatest(
            Tables.orders(s, d),
            Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey")))
          graft.operators.TemporalJoin.asOf(Tables.events(s, d), oDedup,
              keys = ("user_id", "o_custkey"), times = ("ts", "o_orderdate"),
              payload = Seq("o_orderkey", "o_totalprice"),
              toleranceSeconds = t * 86400.0)
            .select(col("event_id"), col("user_id"), col("ts"),
              coalesce(col("o_orderkey"), lit(-1L)).as("last_orderkey"),
              coalesce(Portable.pround(col("o_totalprice"), 4), lit(0.0))
                .as("last_totalprice"))
        },
        sub(canonical("d29_asof_tolerance"),
          "INTERVAL 7 DAY", s"INTERVAL $t DAY", expected = 2)) // both CASE arms
    },
    "b30_bins" -> { r =>
      // bin count restricted to divisors of the 500-wide domain so the
      // bin width literal is exact in both engines
      val n = Seq(5, 10, 20, 25, 50)(r.nextInt(5))
      val width = 500 / n
      Draw("b30_bins", s"bins=$n",
        (s, d) => graft.operators.Sketches.histogram(Tables.events(s, d),
          Seq("event_type"), col("value"),
          lo = 0.0, hi = 500.0, nBuckets = n),
        sub(sub(sub(canonical("b30_histogram"),
          "/ 25.0", s"/ $width.0"),
          ">= 500.0 THEN 21", s">= 500.0 THEN ${n + 1}"),
          "range(0, 22)", s"range(0, ${n + 2})"))
    },
    "b21_frame" -> { r =>
      val win = 2 + r.nextInt(29) // moving-average frame, rows
      Draw("b21_frame", s"frame=$win",
        (s, d) => {
          import org.apache.spark.sql.expressions.Window
          val daily = Tables.events(s, d)
            .groupBy(col("user_id"), TimeAgg.dayKey(col("ts")).as("day"))
            .agg(sum(Portable.toFixed(col("value"), 4)).as("fs"))
          val w7 = Window.partitionBy("user_id").orderBy("day")
            .rowsBetween(-(win - 1), Window.currentRow)
          val wr = Window.partitionBy("user_id").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          daily.select(col("user_id"), col("day"),
            (col("fs").cast("double") / lit(1e4)).as("value_sum"),
            pround(sum(col("fs")).over(w7).cast("double") / lit(1e4)
              / count(lit(1)).over(w7), 4).as("mov_avg_7d"),
            (sum(col("fs")).over(wr).cast("double") / lit(1e4))
              .as("running_total"))
        },
        sub(canonical("b21_moving_avg"),
          "6 PRECEDING", s"${win - 1} PRECEDING"))
    },
    "b34_span" -> { r =>
      val span = Seq(4, 6, 8, 12, 16)(r.nextInt(5)) // EWMA span (2^j weights)
      Draw("b34_span", s"span=$span",
        (s, d) => {
          val daily = Tables.events(s, d)
            .groupBy(col("user_id"), TimeAgg.dayKey(col("ts")).as("day"))
            .agg(sum(Portable.toFixed(col("value"), 4)).as("fs"))
          TimeAgg.ewma(daily, "user_id", "day", "fs", span = span, scale = 4)
            .select(col("user_id"), col("day"),
              (col("fs").cast("double") / lit(1e4)).as("value_sum"),
              col("ewma"))
        },
        // rebuilt from the drawn span with the same weight scheme the
        // canonical b34 oracle generator uses (2^(span-1-j), term and
        // weight dropping together on absent lags)
        {
          val top = 1L << (span - 1)
          val lags = (1 until span).map(j => s"lag(fs, $j) OVER w AS f$j")
            .mkString(",\n    ")
          val num = s"CASE WHEN fs IS NOT NULL THEN $top * fs ELSE 0 END" +
            (1 until span).map(j =>
              s" + CASE WHEN f$j IS NOT NULL THEN ${1L << (span - 1 - j)} * f$j ELSE 0 END").mkString
          val den = s"CASE WHEN fs IS NOT NULL THEN $top ELSE 0 END" +
            (1 until span).map(j =>
              s" + CASE WHEN f$j IS NOT NULL THEN ${1L << (span - 1 - j)} ELSE 0 END").mkString
          s"""WITH dly AS (
             |  SELECT user_id, strftime(ts, '%Y%m%d') AS day,
             |    sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS fs
             |  FROM events GROUP BY 1, 2),
             |l AS (
             |  SELECT user_id, day, fs,
             |    $lags
             |  FROM dly WINDOW w AS (PARTITION BY user_id ORDER BY day))
             |SELECT user_id, day, CAST(fs AS DOUBLE) / 10000.0 AS value_sum,
             |  ${sqlPround(s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE) / 10000.0", 4)} AS ewma
             |FROM l""".stripMargin
        })
    },
    "b35_lag" -> { r =>
      val k = 1 + r.nextInt(5) // autocorrelation lag
      Draw("b35_lag", s"lag=$k",
        (s, d) => {
          val daily = Tables.events(s, d)
            .groupBy(col("user_id"), TimeAgg.dayKey(col("ts")).as("day"))
            .agg(sum(Portable.toFixed(col("value"), 4)).as("fs"))
          TimeAgg.autocorr(daily, "user_id", "day", "fs", k = k)
        },
        sub(sub(canonical("b35_autocorr"),
          "lag(fs, 1)", s"lag(fs, $k)"), "AS autocorr_1", s"AS autocorr_$k"))
    },
    "d9_band" -> { r =>
      val div = Seq(1000, 5000, 10000, 20000, 50000)(r.nextInt(5))
      val k = 3 + r.nextInt(13)
      Draw("d9_band", s"band=$div,k=$k",
        (s, d) => graft.plans.TopKPerKey(
          Tables.orders(s, d)
            .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
            .select(col("c_mktsegment"), col("o_orderkey"),
              floor(col("o_totalprice") / div).as("price_band")),
          keys = Seq(col("c_mktsegment")),
          order = Seq(col("price_band").desc),
          k = k, rankName = "rnk", mode = graft.plans.TopKMode.Ranked),
        sub(sub(canonical("d9_topk_rank_ties"),
          "/ 10000", s"/ $div", expected = 2), "rnk <= 10", s"rnk <= $k"))
    },
    "h16_topn" -> { r =>
      val n = 2 + r.nextInt(14) // salient terms per doc
      Draw("h16_topn", s"topn=$n",
        (s, d) => Curation.topTfidfTerms(Tables.documents(s, d),
          "doc_id", "text", n),
        sub(canonical("h16_tfidf_terms"), "rnk <= 5", s"rnk <= $n"))
    },
    "b41_win" -> { r =>
      val w = 2 + r.nextInt(13) // rolling-percentile window, days
      Draw("b41_win", s"window=${w}d",
        (s, d) => {
          val bins = graft.operators.Sketches.histBinCounts(
            Tables.events(s, d).withColumn("day", TimeAgg.dayKey(col("ts"))),
            Seq("event_type", "day"), col("value"),
            lo = 0.0, hi = 600.0, nBins = 600)
          graft.operators.Sketches.histPercentilesFromBins(
            graft.operators.Sketches.histRollingBins(
              bins, Seq("event_type"), "day", window = w),
            Seq("event_type", "day"),
            Seq(("p50", 0.5), ("p90", 0.9)),
            lo = 0.0, hi = 600.0, nBins = 600)
        },
        sub(canonical("b41_rolling_pctl"),
          "BETWEEN 0 AND 6", s"BETWEEN 0 AND ${w - 1}"))
    },
    "e2_thr" -> { r =>
      val thr = (2 + r.nextInt(11)) * 5 / 100.0 // jaccard threshold [0.10, 0.60]
      val ts = "%.2f".format(thr)
      val mdf = Seq(50, 100, 200)(r.nextInt(3)) // stop-shingle doc freq
      Draw("e2_thr", s"thr=$ts,maxDocFreq=$mdf",
        (s, d) => graft.operators.Dedup.ngramJaccard(
          Tables.documents(s, d), "doc_id", "text", 3, thr, mdf),
        sub(sub(canonical("e2_dedup_ngram_jaccard"),
          ">= 0.25", s">= $ts"),
          "HAVING count(*) <= 100", s"HAVING count(*) <= $mdf"))
    },
    "e3_bands" -> { r =>
      // LSH geometry: bands×rowsPerBand signature, n = b·rp ≤ 16 (the
      // K-M hash family the canonical query uses). The oracle is BUILT
      // from the drawn dims with the same Scala K-M constants, the
      // exact construction the canonical e3 oracle uses.
      val rp = Seq(2, 4, 8)(r.nextInt(3))
      val nb = 1 + r.nextInt(16 / rp)
      val n = nb * rp
      import graft.operators.Dedup
      def mh(i: Int): String =
        s"list_min(list_transform(h, x -> (${Dedup.kmA(i)} * CAST(concat('0x', x[1:7]) AS BIGINT)" +
          s" + ${Dedup.kmB(i)} * CAST(concat('0x', x[9:15]) AS BIGINT)" +
          s" + ${Dedup.kmC(i)}) % ${Dedup.KmP}))"
      val sigCols = (0 until n).map(i => s"  ${mh(i)} AS mh$i").mkString(",\n")
      val bands = (0 until nb).map { b =>
        val cols = (0 until rp).map(j => s"mh${b * rp + j}").mkString(", ")
        s"  SELECT doc, $b AS band, md5(array_to_string([$cols], '|')) AS bucket FROM sig"
      }.mkString(" UNION ALL\n")
      Draw("e3_bands", s"bands=$nb,rowsPerBand=$rp",
        (s, d) => graft.operators.Dedup.minhashLsh(
          Tables.documents(s, d), "doc_id", "text", 3, n, rp),
        s"""WITH t AS (${SparkEntry.tokCte("documents", lower = true)}),
           |s AS (SELECT doc_id, list_distinct(${SparkEntry.shingle3}) AS shs FROM t),
           |hs AS (SELECT doc_id, list_transform(shs, x -> md5(x)) AS h FROM s),
           |sig AS (SELECT doc_id AS doc,
           |$sigCols
           |  FROM hs),
           |banded AS (
           |$bands)
           |SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_bands
           |FROM banded a JOIN banded b
           |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
           |GROUP BY 1, 2""".stripMargin)
    },
    "k4_budget" -> { r =>
      val b = 500 + r.nextInt(19501) // token budget [500, 20000]
      Draw("k4_budget", s"budget=$b",
        (s, d) => Curation.tokenBudgetSample(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"), col("text"),
              graft.functions.TextFunctions.textProfile(lower(col("text"))).as("p"))
            .select(col("doc_id"), col("lang"),
              col("p.n_tokens").cast("long").as("n_tokens"),
              graft.functions.TextFunctions
                .qualityScoreFromProfile(col("text"), col("p"))
                .as("quality_score")),
          Seq("lang"), col("n_tokens"), col("quality_score"), col("doc_id"),
          budget = b.toLong),
        sub(canonical("k4_token_budget"), "<= 3000", s"<= $b"))
    },
    // ---- r13 families (verdict next-round #3): gapfill geometry,
    // twa bucket widths (the site of this round's origin fix), funnel
    // windows, LTTB buckets, cusum thresholds, temperature totals,
    // interval-band geometry
    "b6_width" -> { r =>
      val w = 1 + r.nextInt(6) // gapfill bucket width, hours — widths
      // not dividing the 946857600 s origin offset (5h) exercise the
      // r12 time_bucket origin fix through the whole gapfill spine
      Draw("b6_width", s"w=${w}h",
        (s, d) => {
          val hourly = Tables.events(s, d)
            .groupBy(col("user_id"),
              TimeAgg.timeBucket(col("ts"), w * 3600L).as("bucket"))
            .agg(count(lit(1)).as("n_events"),
              Portable.fixedAvg(col("value"), 4).as("avg_value"))
          TimeAgg.gapfillLocf(hourly, "user_id", "bucket", w * 3600L,
              fillZero = Seq("n_events"), locf = Seq("avg_value"))
            .withColumn("bucket", col("bucket").cast("string"))
        },
        sub(sub(canonical("b6_gapfill_locf"),
          "INTERVAL '1 hour'", s"INTERVAL '$w hours'"),
          "INTERVAL 1 HOUR", s"INTERVAL $w HOUR"))
    },
    "b11_bounds" -> { r =>
      val startDay = 8 + r.nextInt(7) // Jan 8–14
      val startHour = Seq(0, 6, 12)(r.nextInt(3))
      val spanDays = 1 + r.nextInt(3)
      val startLit = f"2024-01-$startDay%02d $startHour%02d:00:00"
      val endLit = f"2024-01-${startDay + spanDays}%02d $startHour%02d:00:00"
      Draw("b11_bounds", s"start=$startLit,span=${spanDays}d",
        (s, d) => {
          val hourly = Tables.events(s, d)
            .groupBy(col("user_id"),
              TimeAgg.timeBucket(col("ts"), 3600).as("bucket"))
            .agg(count(lit(1)).as("n_events"),
              Portable.fixedAvg(col("value"), 4).as("avg_value"))
          TimeAgg.gapfillLocf(hourly, "user_id", "bucket", 3600,
              fillZero = Seq("n_events"), locf = Seq("avg_value"),
              bounds = Some((lit(startLit).cast("timestamp"),
                lit(endLit).cast("timestamp"))))
            .withColumn("bucket", col("bucket").cast("string"))
        },
        // two-phase: a drawn literal can EQUAL the other bound's anchor
        // (e.g. start drawn as Jan 13) — placeholders keep the two
        // substitutions from colliding
        sub(sub(sub(sub(canonical("b11_gapfill_bounded"),
          "2024-01-10 00:00:00", "START", expected = 2),
          "2024-01-13 00:00:00", "END", expected = 2),
          "START", startLit, expected = 2),
          "END", endLit, expected = 2))
    },
    "b36_width" -> { r =>
      // widths 5h/7h/10h/11h do NOT divide the origin offset — this
      // family is the regression pin for the r13 twaInterpolated
      // origin fix (epoch-floor diverges at exactly these widths)
      val w = 1 + r.nextInt(12) // hours
      Draw("b36_width", s"w=${w}h",
        (s, d) => TimeAgg.twaInterpolated(Tables.events(s, d), "user_id",
          "ts", Seq("event_id"), "value",
          bucketSeconds = w * 3600L, scale = 4),
        sub(canonical("b36_twa_interpolated"),
          "21600000000", (w * 3600L * 1000000L).toString, expected = 11))
    },
    "c9_window" -> { r =>
      val w = 300 + r.nextInt(6901) // funnel window seconds
      Draw("c9_window", s"window=${w}s",
        (s, d) => Sessionize.funnel(Tables.events(s, d), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowSeconds = w.toLong),
        sub(canonical("c9_funnel"),
          "INTERVAL 3600 SECOND", s"INTERVAL $w SECOND", expected = 2))
    },
    "c16_window" -> { r =>
      val w = 300 + r.nextInt(6901)
      Draw("c16_window", s"window=${w}s",
        (s, d) => Sessionize.funnelTimes(Tables.events(s, d), "user_id",
          "ts", "event_type", Seq("view", "click", "purchase"), w.toLong),
        sub(canonical("c16_funnel_times"),
          "INTERVAL 3600 SECOND", s"INTERVAL $w SECOND", expected = 2))
    },
    "b24_buckets" -> { r =>
      val n = 4 + r.nextInt(27) // LTTB output buckets per series
      Draw("b24_buckets", s"buckets=$n",
        (s, d) => TimeAgg.downsampleLttb(
          Tables.events(s, d).select("user_id", "ts", "value", "event_id"),
          "user_id", "ts", "value", "event_id", nBuckets = n, scale = 2),
        sub(canonical("b24_downsample_lttb"),
          "* 10 // (mx - mn + 1)", s"* $n // (mx - mn + 1)"))
    },
    "dq9_thr" -> { r =>
      val t = 5 + r.nextInt(96) // CUSUM alarm threshold (per-day units)
      Draw("dq9_thr", s"threshold=$t",
        (s, d) => DataQuality.cusumChangepoints(Tables.events(s, d),
          Seq("event_type"), "ts", slack = 0, threshold = t),
        sub(canonical("dq9_cusum"), "nd * 30", s"nd * $t", expected = 2))
    },
    "k10_total" -> { r =>
      val t = Seq(50, 100, 150, 300, 400)(r.nextInt(5))
      Draw("k10_total", s"total=$t",
        (s, d) => Curation.temperatureSample(Tables.documents(s, d),
          "source", col("doc_id"), total = t.toLong, salt = "|temp1"),
        sub(sub(canonical("k10_temperature_sample"),
          "(200 * u)", s"($t * u)", expected = 2),
          "200 - sum(b)", s"$t - sum(b)"))
    },
    "d33_bands" -> { r =>
      // band geometry: the silver/gold boundary moves (semantic), and
      // the bucketWidth moves INDEPENDENTLY (a pure plan knob — the
      // result must be identical at any width; the oracle only ever
      // sees the boundary)
      val m = Seq(100, 150, 200, 250, 300)(r.nextInt(5))
      val bw = Seq(10.0, 25.0, 50.0)(r.nextInt(3))
      Draw("d33_bands", s"mid=$m,bucketWidth=$bw",
        (s, d) => {
          import s.implicits._
          val bands = Seq(
            ("bronze", 0.0, 50.0), ("silver", 50.0, m.toDouble),
            ("gold", m.toDouble, 1000.0))
            .toDF("tier", "lo", "hi")
          graft.operators.TemporalJoin.intervalLookup(
              Tables.events(s, d).select("event_id", "user_id", "value"),
              bands, "value", "lo", "hi", bucketWidth = bw)
            .select(col("event_id"), col("user_id"),
              Portable.pround(col("value"), 4).as("value"), col("tier"))
        },
        sub(canonical("d33_interval_lookup"),
          "200.0", s"$m.0", expected = 2))
    },
    // ---- r13 close-out families (verdict #3 done-bar: >= 35) ----
    "b25_width" -> { r =>
      // gapfill-interp bucket geometry: rollup bucket and spine step
      // move TOGETHER (the operator contract); every width re-tests
      // the 2000-01-03 origin flooring, and the interpolation fraction
      // is an epoch ratio so it stays exact at any width
      val w = 1 + r.nextInt(12) // hours
      Draw("b25_width", s"w=${w}h",
        (s, d) => {
          val hourly = Tables.events(s, d)
            .groupBy(col("user_id"),
              TimeAgg.timeBucket(col("ts"), w * 3600L).as("bucket"))
            .agg(Portable.fixedAvg(col("value"), 4).as("avg_value"))
          TimeAgg.gapfillInterpolate(hourly, "user_id", "bucket",
              "avg_value", w * 3600L, scale = 4)
            .withColumn("bucket", col("bucket").cast("string"))
        },
        sub(sub(canonical("b25_gapfill_interp"),
          "INTERVAL '1 hour'", s"INTERVAL '$w hour'"),
          "INTERVAL 1 HOUR", s"INTERVAL $w HOUR", expected = 2))
    },
    "b23_cms" -> { r =>
      // count-min geometry: depth x width reshape the sketch (the
      // estimate stays an upper bound at any geometry) and the report
      // threshold moves the HAVING; engine and oracle derive cells
      // from the same md5-prefix hash at any (depth, width)
      val depth = 2 + r.nextInt(5)             // 2..6
      val width = Seq(256, 512, 1024, 2048)(r.nextInt(4))
      val thr = 20 + 10 * r.nextInt(9)         // 20..100
      Draw("b23_cms", s"depth=$depth,width=$width,thr=$thr",
        (s, d) => {
          val terms = Tables.documents(s, d).select(
            explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
              t => length(t) > 0)).as("term"))
          val cms = Sketches.countMinTable(terms, "term", depth, width)
          Sketches.countMinEstimate(cms, terms.distinct(), "term",
              depth, width)
            .filter(col("est_count") >= thr)
        },
        sub(sub(sub(canonical("b23_heavy_hitters"),
          "[0, 1, 2, 3]", (0 until depth).mkString("[", ", ", "]"),
          expected = 2),
          "% 1024", s"% $width", expected = 2),
          ">= 50", s">= $thr"))
    },
    "b37_k" -> { r =>
      val k = 1 + r.nextInt(8)
      Draw("b37_k", s"k=$k",
        (s, d) => TimeAgg.topGaps(Tables.events(s, d), "user_id", "ts",
            "event_id", k = k)
          .select(col("user_id"), col("gap_start"), col("gap_end"),
            col("gap_us"), col("rnk")),
        sub(canonical("b37_top_gaps"), "<= 3", s"<= $k"))
    },
    "f1_k" -> { r =>
      // ANN brute-force geometry: top-k depth and the query stride
      // (which corpus vectors become queries) move independently
      val k = 3 + r.nextInt(8)                 // 3..10
      val stride = Seq(50, 100, 200)(r.nextInt(3))
      Draw("f1_k", s"k=$k,stride=$stride",
        (s, d) => {
          val e = Tables.embeddings(s, d)
            .withColumn("embedding", col("embedding").cast("array<double>"))
          Similarity.bruteForceTopK(e,
            e.filter(col("vec_id") % stride === 0), "vec_id", "embedding", k)
        },
        sub(sub(canonical("f1_ann_bruteforce"),
          "% 100 = 0", s"% $stride = 0"),
          "<= 5", s"<= $k"))
    },
    "l4_rank" -> { r =>
      // PageRank rounds + damping. The canonical oracle is GENERATED
      // (an unrolled CTE chain has no single literal to substitute),
      // so the tie is a generator-equality require: l4Oracle at the
      // canonical point (iters=6, damp=85) must reproduce the canonical
      // text byte-for-byte — the same loud-drift guarantee sub() gives
      // the literal families, checked on every draw (and so at spec
      // time by FuzzSpec's 25-seed construction sweep).
      val iters = 2 + r.nextInt(7)             // 2..8
      val damp = Seq(70, 75, 80, 85, 90)(r.nextInt(5))
      require(l4Oracle(6, 85) == canonical("l4_personalized_rank"),
        "l4 fuzz generator drifted from the canonical oracle — retie it")
      Draw("l4_rank", s"iters=$iters,damp=$damp",
        (s, d) => {
          val li = Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_suppkey"))
          val ord = Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey"))
          val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
            .select((col("o_custkey") * 2).as("src"),
              (col("l_suppkey") * 2 + 1).as("dst"))
          val edges = pairs.unionByName(
            pairs.select(col("dst").as("src"), col("src").as("dst")))
          val seedNodes = Tables.supplier(s, d)
            .filter(col("s_nationkey") === 1)
            .select((col("s_suppkey") * 2 + 1).as("node"))
          Graphs.pageRank(edges, "src", "dst", iters = iters,
            dampNum = damp.toLong, seeds = Some(seedNodes))
        },
        l4Oracle(iters, damp.toLong))
    },
    "b28_gap" -> { r =>
      // heartbeat liveness window: every event proves the device live
      // for gap seconds; the oracle's µs literal appears in the
      // live-time clamp, its last-beat COALESCE fallback, and the
      // lapse predicate
      val gap = Seq(300, 900, 1800, 3600, 7200)(r.nextInt(5))
      Draw("b28_gap", s"gap=${gap}s",
        (s, d) => TimeAgg.heartbeatUptime(Tables.events(s, d),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          gapSeconds = gap),
        sub(canonical("b28_uptime"), "1800000000",
          (gap * 1000000L).toString, expected = 3))
    },
    "c13_shape" -> { r =>
      // top-paths geometry: session gap, truncation depth (two literal
      // spellings — the count guard and the rank filter move together),
      // and the report k
      val gap = 600 + 60 * r.nextInt(51)   // 600..3600 s
      val steps = 2 + r.nextInt(7)         // 2..8
      val k = 5 + 5 * r.nextInt(8)         // 5..40
      Draw("c13_shape", s"gap=${gap}s,steps=$steps,k=$k",
        (s, d) => Sessionize.topPaths(Tables.events(s, d), "user_id",
          "ts", "event_id", "event_type", gapSeconds = gap,
          maxSteps = steps, k = k),
        sub(sub(sub(sub(canonical("c13_top_paths"),
          "> 1800.0", s"> $gap.0"),
          "count(*) > 5", s"count(*) > $steps"),
          "rn <= 5", s"rn <= $steps"),
          "<= 20", s"<= $k"))
    },
    "c12_window" -> { r =>
      val days = 1 + r.nextInt(14)
      Draw("c12_window", s"window=${days}d",
        (s, d) => Sessionize.lastTouchAttribution(Tables.events(s, d),
          "user_id", "ts", "event_id", "event_type",
          Seq("click", "view"), "purchase", days.toLong * 24 * 3600),
        sub(canonical("c12_attribution"), "604800.0",
          s"${days.toLong * 24 * 3600}.0"))
    },
    "k6_len" -> { r =>
      // concat-and-split packing sequence length: the cut boundary and
      // the offset modulus are the same literal in two spellings
      val len = Seq(256L, 512L, 1024L, 2048L, 4096L)(r.nextInt(5))
      Draw("k6_len", s"seqLen=$len",
        (s, d) => Curation.packSequences(
          Tables.documents(s, d).select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens")),
          stratum = Seq("lang"), tokens = col("n_tokens"),
          order = col("n_tokens"), tieBreak = col("doc_id"), seqLen = len),
        sub(sub(canonical("k6_pack_sequences"),
          "2048.0", s"$len.0"),
          "% 2048", s"% $len"))
    },
    "k6b_len" -> { r =>
      // no-split packing: sequence length drives the harmonic bin
      // capacity (floor(len/n) docs per bin) — small lengths force the
      // single-doc-class edge, large ones the many-docs-per-bin edge
      val len = Seq(128L, 256L, 512L, 1024L, 2048L)(r.nextInt(5))
      Draw("k6b_len", s"seqLen=$len",
        (s, d) => Curation.packSequencesNoSplit(
          Tables.documents(s, d).select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens")),
          stratum = Seq("lang"), tokens = col("n_tokens"),
          order = col("n_tokens"), tieBreak = col("doc_id"), seqLen = len),
        sub(sub(canonical("k6b_pack_nosplit"),
          "CAST(512 AS BIGINT)", s"CAST($len AS BIGINT)"),
          "512.0", s"$len.0"))
    },
    "k5_fracs" -> { r =>
      // leakage-safe split fractions: train moves the first hash band,
      // train+val the second; the dedup-cluster group key is fixed
      val t = Seq(70, 75, 80, 85, 90)(r.nextInt(5))
      // the operator (rightly) requires a non-empty test band
      // (train + val < 100) — draw val from the options that leave one
      val vOpts = Seq(5, 10).filter(_ + t < 100)
      val v = vOpts(r.nextInt(vOpts.size))
      Draw("k5_fracs", s"train=$t,val=$v",
        (s, d) => {
          val dd = Tables.documents(s, d)
          val cl = Dedup.clusters(
            Dedup.ngramJaccard(dd, "doc_id", "text", 3, 0.25, 100),
            "doc_a", "doc_b")
          Curation.leakageSafeSplit(dd, "doc_id", cl, "doc_id",
              "cluster_id", t, v)
            .groupBy("split")
            .agg(count(lit(1)).as("n_docs"),
              countDistinct(col("split_key")).as("n_groups"))
        },
        sub(sub(canonical("k5_split_leakage_safe"),
          "b < 90", s"b < $t"),
          "b < 95", s"b < ${t + v}"))
    },
    "dq15_event" -> { r =>
      // A/B metric event: which event type counts as the conversion —
      // the same literal in the converted flag and the value sum
      val evt = Seq("view", "click", "purchase", "error")(r.nextInt(4))
      Draw("dq15_event", s"conversion=$evt",
        (s, d) => DataQuality.abTest(Tables.events(s, d), "user_id",
          "event_type", evt, "value"),
        sub(canonical("dq15_ab_test"),
          "= 'purchase'", s"= '$evt'", expected = 2))
    },
    "e5_thr" -> { r =>
      // embedding near-dup threshold: both engine and oracle compare
      // the ROUNDED cosine against the literal, so any 1-dp draw is
      // boundary-safe by construction
      val thr = s"0.${1 + r.nextInt(8)}" // 0.1..0.8
      Draw("e5_thr", s"thr=$thr",
        (s, d) => Dedup.embeddingNearDup(
          Tables.embeddings(s, d)
            .withColumn("embedding", col("embedding").cast("array<double>")),
          "vec_id", "embedding", "label", thr.toDouble),
        sub(canonical("e5_dedup_embedding_cosine"),
          ">= 0.3", s">= $thr"))
    },
    "h9_n" -> { r =>
      // repetition shingle size: the window length moves through the
      // short-doc guard, the denominator, and the slice bound together
      val k = 2 + r.nextInt(5) // 2..6
      Draw("h9_n", s"k=$k",
        (s, d) => Tables.documents(s, d).select(col("doc_id"),
          graft.functions.TextFunctions.repetitionRatio(col("text"), k)
            .as("repetition_ratio")),
        sub(sub(sub(canonical("h9_repetition"),
          "len(tok) < 3", s"len(tok) < $k", expected = 2),
          "len(tok) - 2", s"len(tok) - ${k - 1}", expected = 2),
          "tok[i:i+2]", s"tok[i:i+${k - 1}]"))
    },
    "dq2_k" -> { r =>
      // z-score flag threshold: the oracle's division-cleared predicate
      // carries k SQUARED (z² > k² without ever dividing)
      val k = 2 + r.nextInt(4) // 2..5
      Draw("dq2_k", s"k=$k",
        (s, d) => DataQuality.outliers(
          Tables.events(s, d).select("user_id", "event_id", "value"),
          Seq("user_id"), "value", k = k, scale = 2),
        sub(canonical("dq2_outliers"), "> 9 *", s"> ${k * k} *"))
    },
    "dq3_k" -> { r =>
      // MAD flag multiplier: ad > k·mad with both med and mad already
      // pround-pinned at 2 dp, so the same double literal lands on
      // both engines
      val k = Seq("2.0", "2.5", "3.0", "3.5", "5.0")(r.nextInt(5))
      Draw("dq3_k", s"k=$k",
        (s, d) => DataQuality.outliersMad(
          Tables.events(s, d).select("user_id", "event_id", "value"),
          Seq("user_id"), "value", k = k.toDouble, scale = 2),
        sub(canonical("dq3_mad_outliers"), "3.0 * mad", s"$k * mad"))
    },
    "h14_n" -> { r =>
      // char-n-gram LM order: the gram slice, the tail guard, and the
      // two prefix substrings (model build + join) move together
      val n = 2 + r.nextInt(4) // 2..5
      Draw("h14_n", s"n=$n",
        (s, d) => Curation.ngramLmScore(Tables.documents(s, d),
          "doc_id", "text", n),
        sub(sub(sub(sub(canonical("h14_ngram_lm"),
          "substring(text, i, 3)", s"substring(text, i, $n)"),
          "length(text) - 2", s"length(text) - ${n - 1}"),
          "substring(g, 1, 2)", s"substring(g, 1, ${n - 1})"),
          "substring(c3.g, 1, 2)", s"substring(c3.g, 1, ${n - 1})"))
    },
    "h22_terms" -> { r =>
      // keyword search: WHICH three all-required terms (drawn from
      // corpus-frequent words) and the report k move; the hits = 3
      // all-terms guard stays literal because the list size is fixed
      val pool = Seq("hash", "join", "scan", "filter", "batch", "table",
        "vector", "merge", "stream", "window", "query", "spark")
      val terms = r.shuffle(pool).take(3).sorted
      val k = 5 + 5 * r.nextInt(8) // 5..40
      Draw("h22_terms", s"terms=${terms.mkString("+")},k=$k",
        (s, d) => Curation.keywordSearch(Tables.documents(s, d),
          "doc_id", "text", terms, k),
        sub(sub(canonical("h22_keyword_search"),
          "'spark', 'window', 'merge'",
          terms.map("'" + _ + "'").mkString(", ")),
          "<= 20", s"<= $k"))
    },

    // ============ TVF argument-surface fuzzing (r13 verdict #7) ======
    // 78 SQL mirrors prove the TVF happy path == Scala; these families
    // drive the hand-rolled literal-arg parsers (arity, numeric/string
    // typing, 'k:v' CSV specs, order specs, timestamp strings) at
    // DRAWN boundary values and MALFORMED spellings. Contract per
    // draw: the valid call must hash-match the canonical oracle at the
    // drawn params (TVF == Scala == DuckDB, transitively), and every
    // malformed probe must fail LOUDLY with a message naming the
    // function (or the violated constraint) — never a silent wrong
    // default. A silently-accepted probe fails the draw.

    "tvf_topk_args" -> { r =>
      val k = 1 + r.nextInt(10)
      // equivalent order-spec spellings: case-insensitivity and the
      // implicit-asc default are part of the parser contract
      val order = Seq("o_totalprice desc, o_orderkey",
        "o_totalprice DESC, o_orderkey asc",
        "o_totalprice Desc,o_orderkey ASC")(r.nextInt(3))
      val tail = Seq("", ", 'rnk'", ", 'rnk', 'rownum'")(r.nextInt(3))
      Draw("tvf_topk_args", s"k=$k,order='$order',tail='$tail'",
        (s, d) => {
          SparkEntry.sqlSurface(s, d)
          Tables.orders(s, d)
            .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
            .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
            .createOrReplaceTempView("graft_fuzz_seg_orders")
          probeFail(s, "SELECT * FROM graft_topk('graft_fuzz_seg_orders')",
            "graft_topk")
          probeFail(s, "SELECT * FROM graft_topk('graft_fuzz_seg_orders', " +
            "'c_mktsegment', 'o_totalprice sideways down', 3)", "graft_topk")
          probeFail(s, "SELECT * FROM graft_topk('graft_fuzz_seg_orders', " +
            "'c_mktsegment', 'o_totalprice', 3, 'rnk', 'banana')", "graft_topk")
          probeFail(s, "SELECT * FROM graft_topk('graft_fuzz_seg_orders', " +
            "' , ', 'o_totalprice', 3)", "graft_topk")
          probeFail(s, "SELECT * FROM graft_topk('graft_fuzz_seg_orders', " +
            "'c_mktsegment', 'o_totalprice', 'three')", "graft_topk")
          s.sql("SELECT * FROM graft_topk('graft_fuzz_seg_orders', " +
            s"'c_mktsegment', '$order', $k$tail)")
        },
        sub(canonical("d8_topk_native"), "rnk <= 3", s"rnk <= $k"))
    },

    "tvf_funnel_args" -> { r =>
      val w = 600 + 60 * r.nextInt(111) // window seconds in [600, 7200]
      Draw("tvf_funnel_args", s"window=${w}s",
        (s, d) => {
          SparkEntry.sqlSurface(s, d)
          probeFail(s, "SELECT * FROM graft_funnel('graft_sql_events', " +
            "'user_id', 'ts')", "graft_funnel")
          probeFail(s, "SELECT * FROM graft_funnel('graft_sql_events', " +
            "'user_id', 'ts', 'event_type', ' ,, ', 3600)", "stepsCsv")
          probeFail(s, "SELECT * FROM graft_funnel('graft_sql_events', " +
            "'user_id', 'ts', 'event_type', 'view,click', 'soon')",
            "graft_funnel")
          s.sql("SELECT * FROM graft_funnel('graft_sql_events', 'user_id', " +
            s"'ts', 'event_type', 'view,click,purchase', $w)")
        },
        sub(canonical("c9_funnel"),
          "INTERVAL 3600 SECOND", s"INTERVAL $w SECOND", expected = 2))
    },

    "tvf_rebalance_args" -> { r =>
      val (we, wd, wf) = (1 + r.nextInt(4), 1 + r.nextInt(4), 1 + r.nextInt(4))
      Draw("tvf_rebalance_args", s"weights=en:$we,de:$wd,fr:$wf",
        (s, d) => {
          SparkEntry.sqlSurface(s, d)
          Tables.documents(s, d).select(col("doc_id"), col("lang"))
            .createOrReplaceTempView("graft_fuzz_doc_langs")
          for (bad <- Seq("en:", "en:2:3", "en:-1", "en:1.5", ":2", " , "))
            probeFail(s, "SELECT * FROM graft_rebalance(" +
              s"'graft_fuzz_doc_langs', 'lang', '$bad', 'doc_id', '|mix1')",
              "graft_rebalance")
          s.sql("SELECT * FROM graft_rebalance('graft_fuzz_doc_langs', " +
            s"'lang', 'en:$we,de:$wd,fr:$wf', 'doc_id', '|mix1')")
        },
        sub(canonical("k9_rebalance"),
          "VALUES ('en', 2), ('de', 1), ('fr', 1)",
          s"VALUES ('en', $we), ('de', $wd), ('fr', $wf)"))
    },

    "tvf_profile_args" -> { r =>
      val cut = Seq("1995-03-01", "1995-05-01", "1995-07-01",
        "1995-09-01", "1995-11-01")(r.nextInt(5))
      Draw("tvf_profile_args", s"cut=$cut",
        (s, d) => {
          SparkEntry.sqlSurface(s, d)
          val li = Tables.lineitem(s, d)
          val c = lit(cut).cast("timestamp")
          li.filter(col("l_shipdate") < c)
            .createOrReplaceTempView("graft_fuzz_li_ref")
          li.filter(col("l_shipdate") >= c)
            .createOrReplaceTempView("graft_fuzz_li_cur")
          for (bad <- Seq("l_quantity", "l_quantity:4:5", ":4",
              "l_quantity:x", " ,, "))
            probeFail(s, "SELECT * FROM graft_profile('graft_fuzz_li_ref', " +
              s"'graft_fuzz_li_cur', '$bad')", "graft_profile")
          s.sql("SELECT * FROM graft_profile('graft_fuzz_li_ref', " +
            "'graft_fuzz_li_cur', " +
            "'l_quantity:4,l_extendedprice:4,l_discount:6,l_tax:6')")
        },
        sub(canonical("dq5_profile"),
          "TIMESTAMP '1995-07-01'", s"TIMESTAMP '$cut'", expected = 2))
    },

    "tvf_freshness_args" -> { r =>
      val warnD = 1 + r.nextInt(5)
      val errD = warnD + 1 + r.nextInt(10)
      // equivalent timestamp spellings of the SAME instant — the
      // DuckDB side keeps the canonical spelling, so acceptance AND
      // value-equivalence are both under test
      val asOf = Seq("2024-02-01 00:00:00", "2024-02-01",
        "2024-02-01T00:00:00")(r.nextInt(3))
      Draw("tvf_freshness_args",
        s"warn=${warnD}d,err=${errD}d,asOf='$asOf'",
        (s, d) => {
          SparkEntry.sqlSurface(s, d)
          probeFail(s, "SELECT * FROM graft_freshness('graft_sql_events', " +
            "'event_type', 'ts', 'around lunchtime', 259200, 864000)",
            "graft_freshness")
          probeFail(s, "SELECT * FROM graft_freshness('graft_sql_events', " +
            "' ', 'ts', '2024-02-01 00:00:00', 259200, 864000)", "keysCsv")
          probeFail(s, "SELECT * FROM graft_freshness('graft_sql_events', " +
            "'event_type', 'ts', '2024-02-01 00:00:00', 864000, 259200)",
            "error_after")
          s.sql("SELECT * FROM graft_freshness('graft_sql_events', " +
            s"'event_type', 'ts', '$asOf', ${warnD * 86400}, ${errD * 86400})")
        },
        sub(sub(canonical("dq6_freshness"),
          "864000", s"${errD * 86400}"),
          "259200", s"${warnD * 86400}"))
    },

    "tvf_curriculum_args" -> { r =>
      val phases = 2 + r.nextInt(15)
      val order = Seq("quality_score desc, doc_id asc",
        "quality_score DESC,doc_id", "quality_score desc, doc_id")(r.nextInt(3))
      Draw("tvf_curriculum_args", s"phases=$phases,order='$order'",
        (s, d) => {
          SparkEntry.sqlSurface(s, d)
          Tables.documents(s, d)
            .select(col("doc_id"), col("text"),
              graft.functions.TextFunctions.textProfile(lower(col("text"))).as("p"))
            .select(col("doc_id"),
              graft.functions.TextFunctions
                .qualityScoreFromProfile(col("text"), col("p"))
                .as("quality_score"))
            .createOrReplaceTempView("graft_fuzz_scored_docs")
          probeFail(s, "SELECT * FROM graft_curriculum(" +
            "'graft_fuzz_scored_docs', 'quality_score descending', 10)",
            "graft_curriculum")
          probeFail(s, "SELECT * FROM graft_curriculum(" +
            "'graft_fuzz_scored_docs', ' , ', 10)", "orderCsv")
          probeFail(s, "SELECT * FROM graft_curriculum(" +
            "'graft_fuzz_scored_docs', 'quality_score desc', 0)", "phases")
          s.sql("SELECT doc_id, quality_score, rank, phase FROM " +
            s"graft_curriculum('graft_fuzz_scored_docs', '$order', $phases)")
        },
        sub(canonical("k8_curriculum"), "ntile(10)", s"ntile($phases)"))
    },

    "tvf_scc_args" -> { r =>
      // the newest TVF: arity + typing probes, plus the graph itself
      // moves with the draw — the quantity cut redraws the
      // purchase-sequence edge set, so the FB-coloring engine and the
      // closure oracle are exercised on fresh SCC structure each seed
      val qty = 17 + r.nextInt(7) // quantity cut in [17, 23]
      val srcSpelling = Seq("src", "SRC")(r.nextInt(2))
      Draw("tvf_scc_args", s"qty<=$qty,src='$srcSpelling'",
        (s, d) => {
          SparkEntry.sqlSurface(s, d)
          SparkEntry.sccEdges(s, d, qtyCut = qty)
            .createOrReplaceTempView("graft_fuzz_seq_edges")
          probeFail(s, "SELECT * FROM graft_scc('graft_fuzz_seq_edges')",
            "graft_scc")
          probeFail(s, "SELECT * FROM graft_scc('graft_fuzz_seq_edges', " +
            "'src', 'dst', 4)", "graft_scc")
          s.sql("SELECT * FROM graft_scc('graft_fuzz_seq_edges', " +
            s"'$srcSpelling', 'dst')")
        },
        sub(canonical("l13_scc"), "l_quantity <= 20", s"l_quantity <= $qty"))
    },

    "tvf_hll_args" -> { r =>
      // the r15 portable-HLL TVF: arity/typing/range probes (the p
      // bounds must fail loudly at PLAN time — the builder runs the
      // operator eagerly), then a valid call at a DRAWN precision p
      // and key column, hash-matched against the p-parameterized
      // oracle — every register width from m=16 to m=4096 exercises
      // fresh rho/index geometry and both estimate branches
      val p = 4 + r.nextInt(9) // [4, 12]
      val key = Seq("user_id", "event_id")(r.nextInt(2))
      Draw("tvf_hll_args", s"p=$p,key=$key",
        (s, d) => {
          SparkEntry.sqlSurface(s, d)
          probeFail(s, "SELECT * FROM graft_hll('graft_sql_events', " +
            "'event_type', 'user_id')", "graft_hll")
          probeFail(s, "SELECT * FROM graft_hll('graft_sql_events', " +
            "'event_type', 'user_id', 3)", "hll p")
          probeFail(s, "SELECT * FROM graft_hll('graft_sql_events', " +
            "'event_type', 'user_id', 17)", "hll p")
          probeFail(s, "SELECT * FROM graft_hll('graft_sql_events', " +
            "'event_type', 'user_id', 'wide')", "graft_hll")
          s.sql("SELECT * FROM graft_hll('graft_sql_events', " +
            s"'event_type', '$key', $p)")
        },
        hllOracle(p, key))
    },
    "call_upsert_args" -> { r =>
      // S2 CALL-procedure argument surface (r15 verdict #3 — the same
      // treatment S1's TVF args got in r14, where the fuzz found a real
      // silent-NULL bug): malformed calls must fail LOUDLY naming the
      // procedure or the violated constraint — unknown procedure,
      // namespaced lookup, missing required parameter, reserved-view
      // collision — then a VALID merge_upsert runs through the full
      // CALL path (first-load branch + merge branch) and the table
      // READ-BACK is hash-gated against a DuckDB latest-wins oracle,
      // so the argument decode is verified by the write it produced.
      val bm = 4 + r.nextInt(2) // base keeps keys where key % bm != 0
      val um = 2 + r.nextInt(2) // updates touch keys where key % um == 0
      val pc = Seq("o_orderpriority", "o_orderstatus")(r.nextInt(2))
      Draw("call_upsert_args", s"bm=$bm,um=$um,part=$pc",
        (s, d) => {
          s.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
          probeFail(s, "CALL graft.no_such_proc('x')",
            "unknown graft procedure")
          probeFail(s, "CALL graft.ns.merge_upsert('a','b','c','d','e')",
            "catalog root")
          probeFail(s, "CALL graft.merge_upsert('v','p','c')",
            "merge_upsert")
          // a caller-owned __raw must fail loudly, never be clobbered
          s.range(1).toDF("id").createOrReplaceTempView("__raw")
          probeFail(s, "CALL graft.refresh_aggregate('__raw', " +
            "'/tmp/fz_nope', 'id', 'id', 'wm', 'SELECT 1 AS id')",
            "reserved")
          s.catalog.dropTempView("__raw")
          val path =
            Files.createTempDirectory("graft-fz-call-up").toString + "/t"
          val ords = Tables.orders(s, d)
          ords.filter(col("o_orderkey") % bm =!= 0)
            .select(col("o_orderkey"), col(pc), col("o_totalprice"),
              lit(1L).as("v"))
            .createOrReplaceTempView("fz_call_base")
          ords.filter(col("o_orderkey") % um === 0)
            .select(col("o_orderkey"), col(pc),
              (col("o_totalprice") * 2).as("o_totalprice"),
              lit(2L).as("v"))
            .createOrReplaceTempView("fz_call_upd")
          s.sql(s"CALL graft.merge_upsert('fz_call_base', '$path', " +
            s"'$pc', 'o_orderkey', 'v')")
          s.sql(s"CALL graft.merge_upsert('fz_call_upd', '$path', " +
            s"'$pc', 'o_orderkey', 'v')")
          s.read.parquet(path)
            .select(col("o_orderkey"), col("o_totalprice").as("tp"),
              col("v"))
        },
        s"""WITH base AS (SELECT o_orderkey, o_totalprice,
           |    CAST(1 AS BIGINT) AS v
           |  FROM orders WHERE o_orderkey % $bm <> 0),
           |upd AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
           |    CAST(2 AS BIGINT) AS v
           |  FROM orders WHERE o_orderkey % $um = 0)
           |SELECT o_orderkey, o_totalprice AS tp, v FROM upd
           |UNION ALL
           |SELECT b.o_orderkey, b.o_totalprice AS tp, b.v FROM base b
           |LEFT JOIN upd u ON u.o_orderkey = b.o_orderkey
           |WHERE u.o_orderkey IS NULL""".stripMargin)
    },
    "call_retention_args" -> { r =>
      // retention argument surface: arity overflow must fail naming the
      // procedure; a valid call at a DRAWN keep_from cut returns the
      // dropped first-level day partitions, hash-gated against the
      // events calendar (the TimescaleDB drop_chunks contract)
      val dd = 3 + r.nextInt(27) // keep_from day-of-month in [03, 29]
      val keepFrom = f"202401$dd%02d"
      Draw("call_retention_args", s"keepFrom=$keepFrom",
        (s, d) => {
          s.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
          probeFail(s,
            "CALL graft.retention('p','day','2024-01-01','extra')",
            "retention")
          val path =
            Files.createTempDirectory("graft-fz-call-ret").toString + "/t"
          Tables.events(s, d)
            .withColumn("day", TimeAgg.dayKey(col("ts")))
            .write.partitionBy("day").parquet(path)
          s.sql(s"CALL graft.retention('$path', 'day', '$keepFrom')")
        },
        s"""SELECT DISTINCT strftime(ts, '%Y%m%d') AS dropped_partition
           |FROM events WHERE strftime(ts, '%Y%m%d') < '$keepFrom'""".stripMargin)
    },
    "call_zorder_args" -> { r =>
      // write_zordered argument surface: an unknown NAMED argument and
      // string-for-int typing must fail loudly; a valid call at drawn
      // cols/files/bits returns the (col, lo, hi) calibration rows,
      // hash-gated against DuckDB min/max over the same table
      val pool = Seq("l_partkey", "l_suppkey", "l_orderkey", "l_quantity")
      val i = r.nextInt(pool.size)
      val j = (i + 1 + r.nextInt(pool.size - 1)) % pool.size
      val (c1, c2) = (pool(i), pool(j))
      val nf = 2 + r.nextInt(7)
      val bits = 4 + r.nextInt(9)
      Draw("call_zorder_args", s"cols=$c1+$c2,files=$nf,bits=$bits",
        (s, d) => {
          s.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
          probeFail(s, "CALL graft.compact(path => 'p', nope => 'day')",
            "compact")
          Tables.lineitem(s, d).createOrReplaceTempView("fz_call_li")
          probeFail(s, "CALL graft.write_zordered('fz_call_li', " +
            "'/tmp/fz_nope', 'l_partkey', 'wide')",
            "cannot be cast")
          val path =
            Files.createTempDirectory("graft-fz-call-z").toString + "/t"
          s.sql(s"CALL graft.write_zordered('fz_call_li', '$path', " +
            s"'$c1,$c2', $nf, $bits)")
        },
        s"""SELECT '$c1' AS col, CAST(min($c1) AS DOUBLE) AS lo,
           |  CAST(max($c1) AS DOUBLE) AS hi FROM lineitem
           |UNION ALL
           |SELECT '$c2', CAST(min($c2) AS DOUBLE), CAST(max($c2) AS DOUBLE)
           |FROM lineitem""".stripMargin)
    },
    "call_versioned_args" -> { r =>
      // versioned-table lifecycle through the CALL + TVF composition:
      // arity/typing probes fail loudly; then n drawn snapshot commits,
      // a rollback to a drawn target, and the read side re-enters
      // through the S1 TVF (`graft_read_latest`) — the final frame must
      // equal the rolled-back version's filter, hash-gated vs DuckDB.
      // Each CALL's returned version id is require'd in sequence, so
      // the argument decode of commit/rollback is pinned, not just the
      // final contents.
      val n = 2 + r.nextInt(3)      // commits [2, 4]
      val v = 1 + r.nextInt(n)      // rollback target [1, n]
      Draw("call_versioned_args", s"commits=$n,rollbackTo=$v",
        (s, d) => {
          s.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
          probeFail(s, "CALL graft.versioned_rollback('/tmp/fz_nope')",
            "versioned_rollback")
          probeFail(s, "CALL graft.versioned_expire('/tmp/fz_nope', 'wide')",
            "cannot be cast")
          val path =
            Files.createTempDirectory("graft-fz-call-ver").toString + "/t"
          val ords = Tables.orders(s, d)
          (1 to n).foreach { i =>
            ords.filter(col("o_orderkey") % (i + 1) === 0)
              .select(col("o_orderkey"), col("o_totalprice"))
              .createOrReplaceTempView("fz_call_snap")
            val got = s.sql(s"CALL graft.versioned_commit('fz_call_snap', " +
              s"'$path')").collect().head.getLong(0)
            require(got == i, s"commit returned version $got, expected $i")
          }
          val rb = s.sql(s"CALL graft.versioned_rollback('$path', $v)")
            .collect().head.getLong(0)
          require(rb == n + 1, s"rollback returned version $rb, expected ${n + 1}")
          SparkEntry.sqlSurface(s, d)
          s.sql(s"SELECT o_orderkey, o_totalprice AS tp " +
            s"FROM graft_read_latest('$path')")
        },
        s"""SELECT o_orderkey, o_totalprice AS tp FROM orders
           |WHERE o_orderkey % ${v + 1} = 0""".stripMargin)
    },
    "call_delete_keys_args" -> { r =>
      // GDPR keyed-erase argument surface: missing-parameter probe fails
      // naming the procedure; a valid call with a DRAWN doomed-key set
      // erases through the real locate/anti-join/overwrite path and the
      // table READ-BACK is hash-gated against the survivor filter
      val m = Seq(3, 5, 7)(r.nextInt(3)) // doomed: keys % m == 0
      Draw("call_delete_keys_args", s"doomedMod=$m",
        (s, d) => {
          s.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
          probeFail(s, "CALL graft.delete_keys('v','p','c')",
            "delete_keys")
          val path =
            Files.createTempDirectory("graft-fz-call-del").toString + "/t"
          val ords = Tables.orders(s, d)
          ords.select(col("o_orderkey"), col("o_orderpriority"),
              col("o_totalprice"))
            .write.partitionBy("o_orderpriority").parquet(path)
          ords.filter(col("o_orderkey") % m === 0)
            .select(col("o_orderkey"))
            .createOrReplaceTempView("fz_call_doomed")
          s.sql(s"CALL graft.delete_keys('fz_call_doomed', '$path', " +
            s"'o_orderpriority', 'o_orderkey')").collect()
          s.read.parquet(path)
            .select(col("o_orderkey"), col("o_totalprice").as("tp"))
        },
        s"""SELECT o_orderkey, o_totalprice AS tp FROM orders
           |WHERE o_orderkey % $m <> 0""".stripMargin)
    })

  /** The b9b portable-HLL oracle, parameterized on precision and key —
    * MUST mirror `Sketches.hllRegisters`/`hllEstimate` constant for
    * constant (the SparkEntry b9b oracle at p=8/user_id is this at
    * those params): same folded numerator double, same 2.5·m branch
    * cut, same op order on the one division and the linear-count ln. */
  private def hllOracle(p: Int, key: String): String = {
    val q = 60 - p
    val m = 1 << p
    val mD = m.toDouble
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val numer = alpha * mD * mD * math.pow(2.0, q + 1)
    val mask = (1L << q) - 1
    val rawSql = s"$numer / CAST(s_scaled AS DOUBLE)"
    s"""WITH h AS (SELECT event_type,
       |    CAST(concat('0x', substr(md5(CAST($key AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM events),
       |r AS (SELECT event_type, h >> $q AS reg,
       |    CASE WHEN (h & $mask) = 0 THEN ${q + 1}
       |         ELSE ${q + 1} - length(bin(h & $mask)) END AS rho
       |  FROM h),
       |regs AS (SELECT event_type, reg, max(rho) AS rho FROM r GROUP BY 1, 2),
       |agg AS (SELECT event_type, count(*) AS n_regs_used,
       |    CAST(sum(1::BIGINT << (${q + 1} - rho))
       |         + ($m - count(*)) * (1::BIGINT << ${q + 1}) AS BIGINT) AS s_scaled
       |  FROM regs GROUP BY 1)
       |SELECT event_type, n_regs_used, s_scaled,
       |  ${graft.functions.Portable.sqlPround(
            s"CASE WHEN $rawSql <= ${2.5 * mD} AND $m - n_regs_used > 0 " +
            s"THEN $mD * ln($mD / CAST($m - n_regs_used AS DOUBLE)) " +
            s"ELSE $rawSql END", 2)} AS est_distinct
       |FROM agg""".stripMargin
  }


  /** The l4 canonical-oracle generator, parameterized on rounds and
    * damping — MUST stay a byte-for-byte copy of the SparkEntry
    * `l4_personalized_rank` oracle at (6, 85); the l4_rank family
    * requires that equality on every draw. baseShare mirrors
    * [[Graphs.pageRank]]'s `(dampDen - dampNum) * scale / dampDen`. */
  private def l4Oracle(iters: Int, dampNum: Long): String = {
    val base = (100L - dampNum) * 1000000L / 100L
    val rounds = (1 to iters).map { k =>
      s"""pr$k AS (SELECT n.node, n.is_seed,
         |    (CASE WHEN n.is_seed THEN $base ELSE 0 END)
         |      + ($dampNum * COALESCE(m.mass, 0)) // 100 AS pr
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.pr // d.od) AS mass
         |    FROM e JOIN pr${k - 1} p ON p.node = e.src
         |      JOIN d ON d.src = e.src
         |    GROUP BY e.dst) m ON m.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH p0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s1
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT c * 2 AS src, s1 * 2 + 1 AS dst FROM p0
       |      UNION ALL SELECT s1 * 2 + 1, c * 2 FROM p0),
       |d AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
       |n0 AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |sd AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier
       |       WHERE s_nationkey = 1),
       |n AS (SELECT n0.node, sd.node IS NOT NULL AS is_seed
       |      FROM n0 LEFT JOIN sd ON sd.node = n0.node),
       |pr0 AS (SELECT node, is_seed,
       |        CASE WHEN is_seed THEN CAST(1000000 AS BIGINT)
       |             ELSE CAST(0 AS BIGINT) END AS pr FROM n),
       |$rounds
       |SELECT node, CAST(pr AS BIGINT) AS rank FROM pr$iters""".stripMargin
  }

  // =================== data-shape fuzzing (r13) ===================
  // Both real bugs of the r12 cycle (t-closeness NULL mass, the DQ16
  // fixture before it) were DATA-shape bugs — the parameter fuzzer
  // holds the fixture constant, so it can never catch the next one.
  // A data draw redraws the INPUT table from the logged seed into a
  // per-draw dir, runs the UNCHANGED canonical query (straight from
  // SparkEntry.queries) over it, and records the UNCHANGED canonical
  // oracle; check_oracle.py re-points its DuckDB views at the draw's
  // dir via the data_dirs.json sidecar. Redrawn shapes: NULL densities
  // in sensitive/value columns, empty/singleton groups, single-event
  // entities, all-tied orderings, window/session boundary hits, and
  // pre-2000 timestamps (the origin floor-toward−inf edge at scale).

  final case class DataDraw(family: String, params: String,
                            queryName: String,
                            write: (SparkSession, String) => Unit)

  private def ldt(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)

  // writers use the declared types of graft.sources.Tables.schemas,
  // column by column (a column a draw leaves out reads as NULL). The
  // timestamps are written as LocalDateTime, i.e. micros without
  // isAdjustedToUTC — the encoding of the testdata files — and read
  // back as TIMESTAMP under the declared schema.
  private type EvRow =
    (Long, java.time.LocalDateTime, Long, String, Option[Double], String)
  private def writeEvents(rows: Seq[EvRow])(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
  private type CustRow =
    (Long, String, Option[Int], Option[Double], Option[String])
  private def writeCustomer(rows: Seq[CustRow])(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/customer.parquet")
  }
  private type EmbRow = (Long, Array[Float], Int)
  private def writeEmbeddings(rows: Seq[EmbRow])(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
  // minimal TPC-H trio for the graph queries: only the columns the
  // canonical l4 query + oracle touch (check_oracle falls back to the
  // sf dir per-table, but the Spark side reads every table from the
  // draw dir, so all three must exist here)
  private def writeGraphTpch(li: Seq[(Long, Long)], ord: Seq[(Long, Long)],
                             sup: Seq[(Long, Int)])(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    li.toDF("l_orderkey", "l_suppkey").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    ord.toDF("o_orderkey", "o_custkey").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    sup.toDF("s_suppkey", "s_nationkey").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
  }
  private def writeSccLineitem(rows: Seq[(Long, Int, Long, Double)])(
      s: SparkSession, dir: String): Unit = {
    import s.implicits._
    rows.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }
  private type OrdRow = (Long, Long, Double, java.time.LocalDateTime)
  private def writeOrders(rows: Seq[OrdRow])(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    rows.toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }
  private type DocRow = (Long, Option[String], String, String, Long)
  private def writeDocs(rows: Seq[DocRow])(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private val SEGS =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  private val ETYPES = Seq("view", "click", "purchase", "error")
  private val ORIGIN_US = 946857600000000L // 2000-01-03 UTC
  private val JAN10_US = 1704844800000000L // 2024-01-10 UTC

  /** One DataDraw per family per call — all randomness at draw time so
    * the written parquet is a pure function of the seed. */
  private[graft] def dataFamilies: Seq[(String, Random => DataDraw)] = Seq(
    "dqd17_nulls" -> { r =>
      // the r12 t-closeness bug's habitat: NULL-dense sensitive column,
      // NULL bands, classes that are entirely NULL-sensitive
      val n = 300 + r.nextInt(900)
      val nNation = 2 + r.nextInt(5)
      val pNullSeg = 0.05 + r.nextDouble() * 0.55
      val pNullBal = r.nextDouble() * 0.3
      val rows = (1L to n).map { i =>
        (i, s"c$i", Some(r.nextInt(nNation)),
          if (r.nextDouble() < pNullBal) None
          else Some(-2000.0 + r.nextDouble() * 8000.0),
          if (r.nextDouble() < pNullSeg) None
          else Some(SEGS(r.nextInt(SEGS.size))))
      }
      DataDraw("dqd17_nulls",
        f"n=$n,nations=$nNation,pNullSeg=$pNullSeg%.2f,pNullBal=$pNullBal%.2f",
        "dq17_t_closeness", writeCustomer(rows))
    },
    "dqd10_classes" -> { r =>
      // heavy-tail class sizes: singletons by the hundred next to a few
      // huge classes, plus NULL quasi-identifiers
      val n = 200 + r.nextInt(1000)
      val pNullNat = r.nextDouble() * 0.2
      val pSingleton = 0.3 + r.nextDouble() * 0.5
      val rows = (1L to n).map { i =>
        val nat =
          if (r.nextDouble() < pNullNat) None
          else if (r.nextDouble() < pSingleton) Some(1000 + i.toInt) // unique
          else Some(r.nextInt(3))
        (i, s"c$i", nat, Some(-2000.0 + r.nextDouble() * 8000.0),
          Some(SEGS(r.nextInt(SEGS.size))))
      }
      DataDraw("dqd10_classes",
        f"n=$n,pNullNat=$pNullNat%.2f,pSingleton=$pSingleton%.2f",
        "dq10_k_anonymity", writeCustomer(rows))
    },
    "bd5_pre2000" -> { r =>
      // timestamps STRADDLING the 2000-01-03 bucket origin: pre-origin
      // instants must floor toward −inf on both engines, at data scale
      val n = 1000 + r.nextInt(2000)
      val users = 5 + r.nextInt(40)
      val lo = 942624000000000L // 1999-11-15
      val hi = 947894400000000L // 2000-01-15
      val rows = (1L to n).map { i =>
        (i, ldt(lo + (r.nextDouble() * (hi - lo)).toLong),
          1L + r.nextInt(users), ETYPES(r.nextInt(ETYPES.size)),
          Some(r.nextDouble() * 500.0), "")
      }
      DataDraw("bd5_pre2000", s"n=$n,users=$users,span=1999-11-15..2000-01-15",
        "b5_agg_hourly_bucket", writeEvents(rows))
    },
    "bd36_edges" -> { r =>
      // twa edge soup: same-µs readings (zero-length holds), readings
      // within ±2 µs of 6 h bucket boundaries, single-event entities,
      // pre-origin clusters — the r13 origin fix's habitat
      val users = 10 + r.nextInt(15)
      var eid = 0L
      val rows = (1L to users).flatMap { u =>
        val k = 1 + r.nextInt(30)
        var t = ORIGIN_US + (r.nextInt(400) - 200).toLong * 21600000000L +
          r.nextInt(5) - 2L
        (1 to k).map { _ =>
          eid += 1
          // 30%: exact same µs as previous; else jump near a boundary
          if (r.nextDouble() >= 0.3)
            t += r.nextInt(3) * 21600000000L + (r.nextInt(5) - 2).toLong + 1L
          (eid, ldt(t), u, "view", Some(r.nextDouble() * 100.0), "")
        }
      }
      DataDraw("bd36_edges", s"users=$users,rows=${rows.size}",
        "b36_twa_interpolated", writeEvents(rows))
    },
    "dd5_ties" -> { r =>
      // sessionize boundary pressure: gaps of exactly 1799/1800/1801 s
      // (the canonical splits strictly > 1800), zero-gap ties, and
      // single-event entities
      val users = 30 + r.nextInt(50)
      val gaps = Seq(0L, 1L, 1799L, 1800L, 1801L, 3600L)
      var eid = 0L
      val rows = (1L to users).flatMap { u =>
        val k = 1 + r.nextInt(6)
        var t = JAN10_US + u * 86400000000L
        (1 to k).map { j =>
          eid += 1
          if (j > 1) t += gaps(r.nextInt(gaps.size)) * 1000000L
          (eid, ldt(t), u, ETYPES(r.nextInt(ETYPES.size)),
            Some(r.nextDouble() * 100.0), "")
        }
      }
      DataDraw("dd5_ties", s"users=$users,rows=${rows.size}",
        "d5_sessionize", writeEvents(rows))
    },
    "cd9_boundaries" -> { r =>
      // funnel step-boundary pressure: clicks at EXACTLY the anchor ts
      // (>= includes equality), conversions at exactly window seconds
      // (<= includes the edge), steps out of order, steps missing
      val users = 40 + r.nextInt(60)
      val deltas = Seq(-10L, 0L, 1L, 3599L, 3600L, 3601L)
      var eid = 0L
      val rows = (1L to users).flatMap { u =>
        val t0 = JAN10_US + u * 7200000000L
        val b = scala.collection.mutable.ArrayBuffer[EvRow]()
        def emit(tp: String, atUs: Long): Unit = {
          eid += 1
          b += ((eid, ldt(atUs), u, tp, Some(r.nextDouble() * 10.0), ""))
        }
        if (r.nextDouble() >= 0.2) emit("view", t0)
        if (r.nextDouble() >= 0.3) {
          val d1 = deltas(r.nextInt(deltas.size))
          emit("click", t0 + d1 * 1000000L)
          if (r.nextDouble() >= 0.4) {
            val d2 = deltas(r.nextInt(deltas.size))
            emit("purchase", t0 + (d1 + d2) * 1000000L)
          }
        }
        if (r.nextDouble() < 0.3) emit("error", t0 + r.nextInt(7200) * 1000000L)
        b.toSeq
      }
      DataDraw("cd9_boundaries", s"users=$users,rows=${rows.size}",
        "c9_funnel", writeEvents(rows))
    },
    "bd6_sparse" -> { r =>
      // gapfill stress: single-observation entities (1-bucket spine),
      // two observations up to ~5 days apart (long spine explode), and
      // NULL-valued readings (an observed NULL must NOT update LOCF on
      // either engine — ignore-nulls parity)
      val users = 20 + r.nextInt(30)
      val pNull = r.nextDouble() * 0.5
      var eid = 0L
      val rows = (1L to users).flatMap { u =>
        val k = 1 + r.nextInt(3)
        var t = JAN10_US + u * 3600000000L
        (1 to k).map { j =>
          eid += 1
          if (j > 1) t += (1L + r.nextInt(120)) * 3600000000L
          (eid, ldt(t + r.nextInt(3600) * 1000000L), u, "view",
            if (r.nextDouble() < pNull) None else Some(r.nextDouble() * 100.0),
            "")
        }
      }
      DataDraw("bd6_sparse", f"users=$users,rows=${rows.size},pNull=$pNull%.2f",
        "b6_gapfill_locf", writeEvents(rows))
    },
    "ed1_dups" -> { r =>
      // exact-dedup shape: duplicate clusters of drawn size, empty and
      // whitespace-only texts, unicode, NULL texts, shuffled ids (the
      // keeper is min(doc_id), so id order must not leak into grouping)
      val nClusters = 20 + r.nextInt(60)
      val specials =
        Seq(Some(""), Some(" "), Some("\t\n"), Some("héllo wörld ✓"), None)
      val texts = (1 to nClusters).flatMap { c =>
        val size = 1 + r.nextInt(6)
        val t =
          if (r.nextDouble() < 0.15) specials(r.nextInt(specials.size))
          else Some(s"doc body $c " + r.alphanumeric.take(20).mkString)
        Seq.fill(size)(t)
      }
      val ids = r.shuffle((1L to texts.size.toLong).toList)
      val rows = texts.zip(ids).map { case (t, id) =>
        (id, t, Seq("en", "fr", "de")(r.nextInt(3)),
          s"src${r.nextInt(4)}", t.map(_.length.toLong).getOrElse(0L))
      }
      DataDraw("ed1_dups", s"clusters=$nClusters,rows=${rows.size}",
        "e1_dedup_exact", writeDocs(rows))
    },
    "bd20_ties" -> { r =>
      // first/last under ALL-TIED orderings: whole (user, day) groups
      // at one identical µs (tie-break falls entirely to event_id) and
      // NULL values sitting AT the first/last positions
      val users = 10 + r.nextInt(20)
      val pNull = 0.1 + r.nextDouble() * 0.3
      var eid = 0L
      val rows = (1L to users).flatMap { u =>
        (0 until 3).flatMap { day =>
          val k = 1 + r.nextInt(8)
          val base = JAN10_US + day * 86400000000L + r.nextInt(3600) * 1000000L
          val allTied = r.nextDouble() < 0.5
          (1 to k).map { j =>
            eid += 1
            val t = if (allTied) base else base + r.nextInt(2) * 1000000L
            (eid, ldt(t), u, "view",
              if (r.nextDouble() < pNull) None
              else Some(r.nextDouble() * 100.0), "")
          }
        }
      }
      DataDraw("bd20_ties", f"users=$users,rows=${rows.size},pNull=$pNull%.2f",
        "b20_first_last", writeEvents(rows))
    },
    // ---- r13 close-out data families: ANN + graph input shapes ----
    "fd1_vectors" -> { r =>
      // ANN corpus shapes: duplicate vectors (exact cosine ties,
      // resolved by the nn_id tie-break in both engines), integer-grid
      // components (k/8 — every dot product a dyadic rational, so the
      // 6-dp cross-engine round can never sit on a boundary), negative
      // components; query ids (vec_id % 100 = 0) exist by construction
      val n = 200 + r.nextInt(400)
      val dim = 4 + r.nextInt(5)
      val pDup = 0.2 + r.nextDouble() * 0.3
      val rows = scala.collection.mutable.ArrayBuffer[EmbRow]()
      (0 until n).foreach { i =>
        val v: Array[Float] =
          if (i > 0 && r.nextDouble() < pDup) rows(r.nextInt(i))._2
          else {
            val a = Array.fill(dim)((r.nextInt(17) - 8) / 8.0f)
            if (a.forall(_ == 0.0f)) a(0) = 1.0f // no zero-norm vectors
            a
          }
        rows += ((i.toLong, v, r.nextInt(3)))
      }
      DataDraw("fd1_vectors", f"n=$n,dim=$dim,pDup=$pDup%.2f",
        "f1_ann_bruteforce", writeEmbeddings(rows.toSeq))
    },
    "ld4_graph" -> { r =>
      // PageRank graph shapes: hub skew (one supplier on most orders),
      // duplicate (cust, supp) pairs (the DISTINCT-edge contract), and
      // a drawn seed regime including ZERO seeds (every rank must be
      // exactly 0 through all rounds) and ALL seeds
      val nCust = 5 + r.nextInt(20)
      val nSupp = 5 + r.nextInt(15)
      val nOrd = 50 + r.nextInt(150)
      val seedMode = r.nextInt(3) // 0 none, 1 all, 2 nation-1 subset
      val hub = r.nextInt(nSupp).toLong + 1L
      val pHub = 0.3 + r.nextDouble() * 0.4
      val ord = (1L to nOrd.toLong).map(o => (o, r.nextInt(nCust).toLong + 1L))
      val li = ord.flatMap { case (o, _) =>
        (0 until 1 + r.nextInt(3)).map { _ =>
          (o, if (r.nextDouble() < pHub) hub else r.nextInt(nSupp).toLong + 1L)
        }
      }
      val sup = (1L to nSupp.toLong).map { sK =>
        (sK, seedMode match {
          case 0 => 2
          case 1 => 1
          case _ => if (r.nextBoolean()) 1 else 2
        })
      }
      DataDraw("ld4_graph",
        f"cust=$nCust,supp=$nSupp,orders=$nOrd,seedMode=$seedMode,pHub=$pHub%.2f",
        "l4_personalized_rank", writeGraphTpch(li, ord, sup))
    },
    "ld13_digraph" -> { r =>
      // SCC graph shapes through the UNCHANGED canonical l13 query +
      // closure oracle (algorithm-independent, so it verifies on ANY
      // digraph): duplicate (orderkey, linenumber) rows — the window
      // tie the l_partkey tie-break exists for; duplicate full triples
      // (the DISTINCT contract); quantities straddling the <= 20
      // boundary; off-grid partkeys the % 7 filter drops; repeated
      // parts within an order (self-loop candidates); densities
      // crossing the giant-SCC threshold both ways
      val nPart = 4 + r.nextInt(12)
      val nOrd = 20 + r.nextInt(80)
      val pDupLine = 0.1 + r.nextDouble() * 0.5
      val pOff = r.nextDouble() * 0.3
      val rows = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
      (1L to nOrd.toLong).foreach { o =>
        val len = 1 + r.nextInt(6)
        var ln = 0
        (0 until len).foreach { _ =>
          if (ln == 0 || r.nextDouble() >= pDupLine) ln += 1
          val pk =
            if (r.nextDouble() < pOff) 7L * (1 + r.nextInt(nPart)) + 1 + r.nextInt(6)
            else 7L * (1 + r.nextInt(nPart))
          val qty = (10 + r.nextInt(20)).toDouble // straddles the <= 20 cut
          rows += ((o, ln, pk, qty))
          if (r.nextDouble() < 0.1) rows += ((o, ln, pk, qty)) // exact dup row
        }
      }
      DataDraw("ld13_digraph",
        f"parts=$nPart,orders=$nOrd,pDup=$pDupLine%.2f,pOff=$pOff%.2f,rows=${rows.size}",
        "l13_scc", writeSccLineitem(rows.toSeq))
    },
    "ld13b_adversarial" -> { r =>
      // r14-verdict worst-case shapes aimed at the DISTRIBUTED
      // FB-coloring path (l13d pins localThreshold = 0): long pure
      // paths (the old to-fixpoint trim was O(diameter) peels) and
      // chains of 2-cycles in drawn id orders (one outer round PER SCC
      // under the retired min-id pivots; O(log) under hash pivots).
      // Ids pass through a drawn permutation so increasing, decreasing
      // and shuffled id/topology correlations all occur. Diameters stay
      // <= 128 hops: the oracle's fixpoint CANARY witnesses convergence
      // as count(r8)==count(r7), and r7 reaches 2^7 = 128 hops — a draw
      // with diameter 129..255 would still close by r8 but trip the
      // canary spuriously (the r15 ADVICE boundary bug: n=60+nextInt(90)
      // allowed 148-hop paths, and the recorded worst draw sat at
      // exactly n=129). Mode-0 path length is therefore capped at 129
      // NODES (128 hops), the largest diameter the canary can witness.
      val mode = r.nextInt(3) // 0 path, 1 chain of 2-cycles, 2 chain + chords
      val perm = r.nextInt(3) // 0 increasing ids, 1 decreasing, 2 shuffled
      val n = mode match {
        case 0 => 60 + r.nextInt(70) // path nodes, max 129 (diameter 128)
        case _ => 2 * (8 + r.nextInt(16)) // chain nodes (2 per SCC)
      }
      val ids: Seq[Long] = {
        val base = (1L to n.toLong)
        perm match {
          case 0 => base
          case 1 => base.reverse
          case _ => r.shuffle(base.toVector)
        }
      }
      val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      mode match {
        case 0 =>
          (0 until n - 1).foreach(i => edges += ((ids(i), ids(i + 1))))
        case _ =>
          (0 until n / 2).foreach { i =>
            val a = ids(2 * i); val b = ids(2 * i + 1)
            edges += ((a, b)); edges += ((b, a))
            if (i < n / 2 - 1) edges += ((b, ids(2 * i + 2)))
          }
          if (mode == 2) // forward chords only — diameter shrinks, no new SCCs
            (0 until n / 6).foreach { _ =>
              val i = r.nextInt(n / 2 - 1)
              val j = i + 1 + r.nextInt(n / 2 - 1 - i)
              edges += ((ids(2 * i), ids(2 * j)))
            }
      }
      // one order per edge: lines (1, 7·u), (2, 7·v) — the (linenumber,
      // partkey) sort then yields exactly edge u→v through sccEdges
      val rows = edges.zipWithIndex.flatMap { case ((u, v), o) =>
        Seq((o.toLong + 1, 1, 7L * u, 15.0), (o.toLong + 1, 2, 7L * v, 15.0))
      }
      DataDraw("ld13b_adversarial",
        s"mode=$mode,perm=$perm,n=$n,edges=${edges.size}",
        "l13d_scc_dist", writeSccLineitem(rows.toSeq))
    },
    "dd32_asof_ties" -> { r =>
      // as-of-forward edge shapes: duplicate (custkey, orderdate) keys
      // (the upsert tie — max orderkey must win), events exactly AT
      // order instants (the <= boundary is inclusive), users with no
      // orders, orders with no events, stacked future orders (nearest
      // wins); prices on a cent grid so pround(.,4) is exact
      val users = 8 + r.nextInt(16)
      val pTie = 0.3 + r.nextDouble() * 0.4
      val pAt = 0.3 + r.nextDouble() * 0.3
      var oid = 0L; var eid = 0L
      val ords = scala.collection.mutable.ArrayBuffer[OrdRow]()
      val evs = scala.collection.mutable.ArrayBuffer[EvRow]()
      (1L to users).foreach { u =>
        val oTimes = if (r.nextDouble() >= 0.85) Seq.empty else
          (0 until 1 + r.nextInt(4)).map(_ =>
            JAN10_US + r.nextInt(10 * 86400) * 1000000L)
        oTimes.foreach { t =>
          oid += 1
          ords += ((oid, u, (100 + r.nextInt(900000)) / 100.0, ldt(t)))
          if (r.nextDouble() < pTie) { // duplicate (custkey, orderdate)
            oid += 1
            ords += ((oid, u, (100 + r.nextInt(900000)) / 100.0, ldt(t)))
          }
        }
        (0 until 2 + r.nextInt(6)).foreach { _ =>
          eid += 1
          val t = if (oTimes.nonEmpty && r.nextDouble() < pAt)
            oTimes(r.nextInt(oTimes.size)) // exactly at an order instant
          else JAN10_US + r.nextInt(12 * 86400) * 1000000L
          evs += ((eid, ldt(t), u, "view", Some(1.0), ""))
        }
      }
      DataDraw("dd32_asof_ties",
        f"users=$users,orders=${ords.size},events=${evs.size},pTie=$pTie%.2f,pAt=$pAt%.2f",
        "d32_asof_forward",
        (s, dir) => { writeEvents(evs.toSeq)(s, dir); writeOrders(ords.toSeq)(s, dir) })
    },
    "kd10_skew" -> { r =>
      // temperature-sampling corpus shapes: singleton sources, cubic
      // source skew, and corpora SMALLER than the fixed total=200
      // budget — the floored-share + residual-bonus + least(n, ...)
      // cap arithmetic at its edges
      val nSrc = 1 + r.nextInt(6)
      val n = 20 + r.nextInt(80)
      val rows = (1L to n.toLong).map { i =>
        val srcIdx = math.min(nSrc - 1,
          (math.pow(r.nextDouble(), 3) * nSrc).toInt)
        (i, Option(s"doc text $i"), "en", s"src$srcIdx",
          (10 + r.nextInt(90)).toLong)
      }
      DataDraw("kd10_skew", s"n=$n,sources=$nSrc",
        "k10_temperature_sample", writeDocs(rows))
    })

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val seed = sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED", "20260815").toLong
    val draws = sys.env.get("SPARK_GRAFT_FUZZ_DRAWS").map(_.toInt)
      .getOrElse(2 * (families.size + dataFamilies.size))
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()

    val rng = new Random(seed)
    // local-iteration family filter (driver never sets it): run only
    // the named families, e.g. SPARK_GRAFT_FUZZ_FAMILIES=tvf_topk_args
    val famOnly = sys.env.get("SPARK_GRAFT_FUZZ_FAMILIES")
      .map(_.split(",").map(_.trim).toSet)
    val fams = families.filter(f => famOnly.forall(_.contains(f._1)))
    val dfams = dataFamilies.filter(f => famOnly.forall(_.contains(f._1)))
    val total = fams.size + dfams.size
    // round-robin over param + data families so every family is hit;
    // each draw gets fresh randomness. Param draws are fzNN_, data
    // draws fzdNN_ (the verify skill's triage section keys off this).
    val cases: Seq[(String, Either[Draw, DataDraw])] = (0 until draws).map { i =>
      val j = i % total
      if (j < fams.size) {
        val (fam, gen) = fams(j)
        (f"fz$i%02d_$fam", Left(gen(rng)))
      } else {
        val (fam, gen) = dfams(j - fams.size)
        (f"fzd$i%02d_$fam", Right(gen(rng)))
      }
    }
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val dataDirs = scala.collection.mutable.LinkedHashMap[String, String]()
    cases.foreach { case (name, c) =>
      try c match {
        case Left(d) =>
          d.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        case Right(dd) =>
          val dataDir = s"$outDir/${name}__data"
          dd.write(spark, dataDir)
          dataDirs(name) = dataDir
          // the CANONICAL query, untouched, pointed at the drawn data
          (SparkEntry.queries ++ SparkEntry.fuzzQueries)(dd.queryName)(spark, dataDir)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failed += name
        val p = c.fold(_.params, _.params)
        System.err.println(s"[fuzz] $name ($p) failed: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // same JSON escaping as Verify — control chars would break json.load
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracleJson = cases
      .map { case (n, c) =>
        s"${q(n)}: ${q(c.fold(_.oracle, dd => canonical(dd.queryName)))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    val paramsJson = cases
      .map { case (n, c) => s"${q(n)}: ${q(c.fold(_.params, _.params))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/fuzz_params.json"),
      s"""{"seed": $seed, "draws": $draws, "params": $paramsJson}""")
    // data-shape draws: which dir each query's DuckDB views must read
    // from (check_oracle.py re-points its views per entry)
    val dataDirsJson = dataDirs
      .map { case (n, dir) => s"${q(n)}: ${q(dir)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/data_dirs.json"), dataDirsJson)
    val errs = failed.map(q).mkString("[", ",", "]")
    println(s"""{"metric":"fuzz","seed":$seed,"draws":$draws,"failed":$errs,"params":$paramsJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
