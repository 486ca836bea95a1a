package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Scale guardrails: assert the PLANS we rely on at 100 TB actually
  * materialize — pushdown reaching the scan, dims broadcast, no
  * nested-loop joins sneaking into equi-join paths. */
class PlanSpec extends SparkSpec {

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    // Execute first so AQE finalizes the plan — codegen '*' markers and
    // runtime join selections only appear in the final plan.
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filter + projection push down to the parquet scan") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1995-01-01").cast("timestamp"))
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in scan:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double"),
      s"scan reads more columns than projected:\n$scan")
  }

  test("events.ts loads as TIMESTAMP and ts predicates reach the scan") {
    // The declared events schema reads the micros-no-tz ts as plain
    // TimestampType AT THE SCAN — a post-scan cast would silently
    // break incremental-load (C3/C4) pushdown.
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType, "events.ts must be TIMESTAMP")
    val df = ev.filter(col("ts") > lit("2024-01-02").cast("timestamp"))
      .select("event_id", "ts")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("GreaterThan(ts,"),
      s"ts range filter not pushed to the events scan:\n$scan")
  }

  test("gapfill+locf: one scan, no fill join, two exchanges end-to-end") {
    for (q <- Seq("b6_gapfill_locf", "b11_gapfill_bounded",
        "b25_gapfill_interp")) {
      val df = SparkEntry.queries(q)(spark, sf)
      // AQE's toString appends the pre-adaptive "Initial Plan" — count
      // the final plan only
      val plan = executed(df).split("== Initial Plan ==").head
      val exchanges = "(?<!Reused)Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 2,
        s"$q: expected 2 exchanges (the hourly rollup agg + the shared "
          + s"entity window partitioning), got $exchanges:\n$plan")
      assert(!plan.contains("Join"), s"$q must not plan a fill join:\n$plan")
      assert("FileScan parquet".r.findAllIn(plan).size == 1,
        s"$q must scan the input once:\n$plan")
    }
  }

  test("TopKRewrite turns row_number window filters into TopKPerKey") {
    import org.apache.spark.sql.expressions.Window
    graft.plans.TopKRewrite.ensureRegistered(spark)
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    def q() = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
    val want = q().collect().toSet // flag off: WindowExec path
    spark.conf.set(graft.plans.TopKRewrite.FlagKey, "true")
    try {
      val df = q()
      val plan = executed(df)
      assert(plan.contains("TopKPerKeyFinal"),
        s"expected the rewrite to plan TopKPerKey:\n$plan")
      // neither WindowExec nor Spark's own sort-based WindowGroupLimit
      // (which the rewrite subsumes) may remain, and nothing sorts
      assert(!plan.contains("Window "), s"WindowExec must be gone:\n$plan")
      assert(!plan.contains("WindowGroupLimit"),
        s"sort-based group limit must be subsumed:\n$plan")
      assert(!plan.contains("Sort "), s"no sorts in the top-k path:\n$plan")
      assert(df.collect().toSet == want) // identical rows AND ranks
    } finally spark.conf.unset(graft.plans.TopKRewrite.FlagKey)
  }

  test("TopKRewrite subsumes rank() and dense_rank() with ties intact") {
    import org.apache.spark.sql.expressions.Window
    graft.plans.TopKRewrite.ensureRegistered(spark)
    // coarse band ordering guarantees real ties in every group
    val w = Window.partitionBy("l_returnflag")
      .orderBy(floor(col("l_extendedprice") / 10000).desc)
    for (fn <- Seq(rank(), dense_rank())) {
      def q() = Tables.lineitem(spark, sf)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("rk", fn.over(w))
        .filter(col("rk") <= 4)
      val want = q().collect().map(_.toSeq).toSet // flag off: WindowExec path
      spark.conf.set(graft.plans.TopKRewrite.FlagKey, "true")
      try {
        val df = q()
        val plan = executed(df)
        assert(plan.contains("TopKPerKeyFinal"),
          s"expected the ties-aware rewrite to plan TopKPerKey:\n$plan")
        assert(!plan.contains("Window ") && !plan.contains("WindowGroupLimit"),
          s"window machinery must be subsumed:\n$plan")
        assert(!plan.contains("Sort "), s"no sorts in the top-k path:\n$plan")
        assert(df.collect().map(_.toSeq).toSet == want) // rows AND rank values
      } finally spark.conf.unset(graft.plans.TopKRewrite.FlagKey)
    }
  }

  test("TopKPerKey partial flush valve stays exact under a tiny key cap") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_returnflag", "l_linestatus")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    val base = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber", "l_extendedprice")
    val want = base.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 4)
      .collect().map(_.toSeq).toSet
    spark.conf.set("spark.graft.topk.maxKeysInFlight", "1") // flush constantly
    try {
      val got = graft.plans.TopKPerKey(base,
        keys = Seq(col("l_returnflag"), col("l_linestatus")),
        order = Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc),
        k = 4).collect().map(_.toSeq).toSet
      assert(got == want)
      // the tied-mode group trees flush through the same valve — a
      // flushed group's rows must all survive to the final pass
      val wTies = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag", "l_linestatus")
        .orderBy(floor(col("l_extendedprice") / 10000).desc)
      val wantTies = base.withColumn("rnk", rank().over(wTies))
        .filter(col("rnk") <= 4).collect().map(_.toSeq).toSet
      val gotTies = graft.plans.TopKPerKey(base,
        keys = Seq(col("l_returnflag"), col("l_linestatus")),
        order = Seq(floor(col("l_extendedprice") / 10000).desc),
        k = 4, mode = graft.plans.TopKMode.Ranked).collect().map(_.toSeq).toSet
      assert(gotTies == wantTies)
    } finally spark.conf.unset("spark.graft.topk.maxKeysInFlight")
  }

  test("AQE splits a detected skewed join partition") {
    import spark.implicits._
    // one key owns ~all fact rows; thresholds lowered so local-scale
    // data trips the same OptimizeSkewedJoin path a 100 TB hot key would
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val fact = spark.range(200000)
        .select((when($"id" % 100 === 0, $"id").otherwise(lit(7L))).as("k"),
          $"id".as("payload"))
      val dim = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = fact.join(dim, "k")
      val plan = executed(joined).split("== Initial Plan ==").head
      assert(plan.contains("skew=true"),
        s"expected OptimizeSkewedJoin to split the hot-key partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("shingle pipelines scan and shingle the corpus exactly once") {
    // the anchored-exchange claims: both consumers of the exploded
    // shingle table must come from ONE scan (exchange reuse), not
    // per-branch re-shingling
    for (q <- Seq("e2_dedup_ngram_jaccard", "h8_contamination", "h10_interdup",
        "e7_dedup_spans")) {
      val plan = executed(SparkEntry.queries(q)(spark, sf))
        .split("== Initial Plan ==").head
      val scans = "FileScan parquet".r.findAllIn(plan).size
      assert(scans == 1, s"$q must scan documents once, got $scans:\n$plan")
    }
  }

  test("ngram LM scoring scans the corpus once; model rides a broadcast") {
    val plan = executed(SparkEntry.queries("h14_ngram_lm")(spark, sf))
      .split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"h14 must scan documents once, got $scans:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the vocab-bounded prob model should broadcast:\n$plan")
  }

  test("counter delta and time-weighted avg fold window + agg onto ONE shuffle") {
    for (q <- Seq("b18_counter_delta", "b19_time_weighted")) {
      val plan = executed(SparkEntry.queries(q)(spark, sf))
        .split("== Initial Plan ==").head
      assert("FileScan parquet".r.findAllIn(plan).size == 1)
      // the grouped agg keys prefix the window partition keys: the agg
      // must reuse the window's exchange, not add its own
      val exchanges = "(?<!Reused)Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"$q should shuffle once, got $exchanges:\n$plan")
    }
  }

  test("first/last partial-aggregates before the exchange; no window") {
    val plan = executed(SparkEntry.queries("b20_first_last")(spark, sf))
      .split("== Initial Plan ==").head
    // struct-keyed min_by plans as SortAggregate (group-key sort only,
    // never a per-group ordering pass); the property that matters at
    // scale is the MAP-SIDE partial — the exchange carries one
    // candidate per group per task, not the raw readings
    assert(!plan.contains("Window"),
      s"b20 must be min_by/max_by aggregation, not a window:\n$plan")
    assert(plan.contains("partial_min_by"),
      s"expected map-side partial min_by before the exchange:\n$plan")
  }

  test("Q4/Q22/Q17 shapes: semi/anti joins with filters pushed to the scans") {
    val d10 = executed(SparkEntry.queries("d10_order_priority")(spark, sf))
      .split("== Initial Plan ==").head
    assert(d10.contains("LeftSemi"), s"d10 must be a semi join:\n$d10")
    assert(d10.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      d10.contains("GreaterThanOrEqual(o_orderdate"),
      s"d10's date range must reach the orders scan:\n$d10")
    assert(d10.contains("EqualTo(l_returnflag,R)"),
      s"d10's flag filter must reach the lineitem scan:\n$d10")
    val d11 = executed(SparkEntry.queries("d11_inactive_customers")(spark, sf))
      .split("== Initial Plan ==").head
    assert(d11.contains("LeftAnti"), s"d11 must be an anti join:\n$d11")
    val d12 = executed(SparkEntry.queries("d12_small_qty_revenue")(spark, sf))
      .split("== Initial Plan ==").head
    assert(d12.contains("LeftSemi") && d12.contains("BroadcastHashJoin"),
      s"d12's brand scope must broadcast as a semi join:\n$d12")
    assert(d12.contains("EqualTo(p_brand,Brand#23)"),
      s"d12's brand filter must reach the part scan:\n$d12")
  }

  test("Q13/Q15 shapes: pre-aggregated outer join; scalar max broadcast, no global window") {
    // d13: orders reduce to one (custkey, n) row BEFORE the outer join —
    // the orders scan reads ONLY o_custkey (order rows never ride the
    // join) and no cartesian/window appears
    val d13 = executed(SparkEntry.queries("d13_order_count_dist")(spark, sf))
      .split("== Initial Plan ==").head
    assert(d13.contains("LeftOuter"), s"d13 must outer-join:\n$d13")
    assert(d13.contains("ReadSchema: struct<o_custkey:"),
      s"d13's orders scan must prune to o_custkey alone:\n$d13")
    // d14: the quarter filter reaches the lineitem scan, the scalar max
    // and the supplier dim both come back as broadcast joins — never a
    // single-partition global Window
    val d14 = executed(SparkEntry.queries("d14_top_supplier")(spark, sf))
      .split("== Initial Plan ==").head
    assert(d14.contains("GreaterThanOrEqual(l_shipdate"),
      s"d14's date range must reach the lineitem scan:\n$d14")
    assert(d14.contains("BroadcastHashJoin") && !d14.contains("Window"),
      s"d14 must broadcast the max row, not window globally:\n$d14")
  }

  test("Q18/Q21/Q16/Q11 shapes: pre-reduced joins, broadcast dims, reused fact scan") {
    // d15: lineitem reduces to per-order sums BEFORE any join, and the
    // scan reads only the two columns the agg needs
    val d15 = executed(SparkEntry.queries("d15_large_orders")(spark, sf))
      .split("== Initial Plan ==").head
    assert(d15.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double"),
      s"d15's lineitem scan must prune to (orderkey, quantity):\n$d15")
    assert(!d15.contains("NestedLoop") && !d15.contains("Cartesian"),
      s"d15 must stay equi-join only:\n$d15")
    // d16: the double-EXISTS rewrite joins on l_orderkey only and the
    // supplier dim comes in as a broadcast — no correlated re-scan, no
    // window
    val d16 = executed(SparkEntry.queries("d16_supplier_blame")(spark, sf))
      .split("== Initial Plan ==").head
    assert(d16.contains("BroadcastHashJoin"),
      s"d16's supplier dim must broadcast:\n$d16")
    assert(!d16.contains("Window") && !d16.contains("NestedLoop"),
      s"d16 must plan as aggregate joins, not windows/loops:\n$d16")
    // d17: NOT IN is a broadcast LEFT ANTI, the brand exclusion reaches
    // the part scan, and the pair-distinct prunes lineitem to two cols.
    // The anti-join shape is asserted on the FULL plan text (the
    // initial plan included): at toy SF the exclusion list is empty and
    // AQE's empty-relation propagation correctly elides the join from
    // the final plan
    val d17full = executed(SparkEntry.queries("d17_supplier_variety")(spark, sf))
    val d17 = d17full.split("== Initial Plan ==").head
    assert(d17full.contains("LeftAnti"),
      s"d17's exclusion list must plan as an anti join:\n$d17full")
    assert(d17.contains("Not(EqualTo(p_brand,Brand#45))"),
      s"d17's brand exclusion must reach the part scan:\n$d17")
    assert(d17.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint"),
      s"d17's lineitem scan must prune to the pair columns:\n$d17")
    // d18: the global total comes back as a one-row broadcast nested-
    // loop join, and the per-part aggregate's exchange is REUSED for
    // the total — lineitem is scanned once
    val d18 = executed(SparkEntry.queries("d18_revenue_concentration")(spark, sf))
      .split("== Initial Plan ==").head
    assert(d18.contains("BroadcastNestedLoopJoin"),
      s"d18's scalar threshold must broadcast as a one-row join:\n$d18")
    assert("FileScan parquet".r.findAllIn(d18).size == 1,
      s"d18 must scan lineitem once (exchange reuse for the total):\n$d18")
  }

  test("Q2/Q19 shapes: argmin joins back pre-reduced; disjunction stays a hash join") {
    // d19: groupwise argmin — both legs are aggregates (no window over
    // the fact), the join is equi on partkey, and the per-(part,supp)
    // exchange is reused for the per-part min (one lineitem scan)
    val d19 = executed(SparkEntry.queries("d19_cheapest_supplier")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!d19.contains("Window") && !d19.contains("NestedLoop"),
      s"d19 must be aggregate + equi-join, not window/loop:\n$d19")
    assert("FileScan parquet".r.findAllIn(d19).size == 1,
      s"d19 must scan lineitem once (exchange reuse):\n$d19")
    // d20: the hand-factored brand disjunction reaches the part scan
    // as an IN filter and the join stays a broadcast HASH join — the
    // naive OR-of-conjunctions spelling degenerates to a nested loop
    val d20 = executed(SparkEntry.queries("d20_disjunctive_revenue")(spark, sf))
      .split("== Initial Plan ==").head
    assert(d20.contains("In(p_brand"),
      s"d20's implied brand disjunction must reach the part scan:\n$d20")
    assert(d20.contains("BroadcastHashJoin") && !d20.contains("NestedLoop"),
      s"d20 must stay a broadcast hash join:\n$d20")
  }

  test("nested normalization flattens from ONE scan with no joins") {
    val plan = executed(SparkEntry.queries("a4_normalize_nested")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"a4 must scan events once:\n$plan")
    assert(!plan.contains("Join"), s"a4 must not join:\n$plan")
  }

  test("histogram percentile windows run over the histogram, not the raw rows") {
    val plan = executed(SparkEntry.queries("b12_percentile_hist")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
    // the raw rows reduce to bin counts (partial+final agg) BEFORE any
    // window: the one hash exchange carries histogram rows only
    val exchanges = "(?<!Reused)Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"histogram should shuffle bins, got $exchanges:\n$plan")
    assert(plan.indexOf("HashAggregate") >= 0 &&
      plan.contains("Window"), s"expected agg-then-window:\n$plan")
  }

  test("percentile rollup: raw reduces to bins before merge and windows") {
    val plan = executed(SparkEntry.queries("b31_percentile_rollup")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"rollup must scan raw once:\n$plan")
    // raw → (type, day, bin) counts → merged (type, month, bin) counts →
    // estimate windows: every exchange after the first carries
    // SKETCH-sized bin rows, never raw readings
    val exchanges = "(?<!Reused)Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3, s"rollup should shuffle bins only, got $exchanges:\n$plan")
    assert(plan.contains("Window"), s"expected estimate windows:\n$plan")
  }

  test("r8 newcomers keep their scale shapes: b32 heaps, f13 one exchange, f14 none") {
    // b32: the bottom-k runs through the custom TopKPerKey operator
    // (bounded heaps), never a Window/Sort
    val b32 = executed(SparkEntry.queries("b32_distinct_rollup")(spark, sf))
      .split("== Initial Plan ==").head
    assert(b32.contains("TopKPerKey"), s"b32 must use the bounded heap:\n$b32")
    assert(!b32.contains("Window"), s"b32 must not plan a window:\n$b32")
    // f13: one scan, ONE dim-keyed exchange (the sketch-sized agg)
    val f13 = executed(SparkEntry.queries("f13_embedding_stats")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(f13).size == 1)
    assert("(?<!Reused)Exchange hashpartitioning".r.findAllIn(f13).size == 1,
      s"f13 should shuffle dim sums once:\n$f13")
    // f14: pure projection — zero exchanges of any kind
    val f14 = executed(SparkEntry.queries("f14_quantize_per_dim")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!f14.contains("Exchange"), s"f14 must not shuffle:\n$f14")
    // c10: no window machinery; the distinct-day collapse feeds both
    // the cohort min and the join back off ONE scan — the second
    // consumer must ride a ReusedExchange, never a second collapse
    val c10 = executed(SparkEntry.queries("c10_retention")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!c10.contains("Window"), s"c10 must not plan a window:\n$c10")
    assert("FileScan parquet".r.findAllIn(c10).size == 1,
      s"c10 must scan events once:\n$c10")
    assert(c10.contains("ReusedExchange"),
      s"c10's cohort min and join-back must share the anchored exchange:\n$c10")
  }

  test("r10 event analytics keep their scale shapes: c17 one scan, c18 one exchange, dq7 two") {
    // c17 growth: ONE events scan; the anchored ledger exchange is
    // shared by the window pipeline and the max-day scalar (the c10
    // ReusedExchange discipline); class+churn come out of one window
    // pass, so exactly one Window operator
    val c17 = executed(SparkEntry.queries("c17_growth")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(c17).size == 1,
      s"c17 must scan events once:\n$c17")
    assert(c17.contains("ReusedExchange"),
      s"c17's window pass and max-day must share the anchored exchange:\n$c17")
    assert("Window".r.findAllIn(c17).size == 1,
      s"c17 must compute lag+lead in one window pass:\n$c17")
    // c18 streaks: one scan; exactly the two exchanges the scale story
    // wants — the (entity, day) distinct collapses MAP-SIDE before its
    // shuffle (dup activity never ships), then the ledger re-keys on
    // the entity once; islands rollup + argmax both ride that second
    // exchange (hash(entity) satisfies the (entity, grp) clustering),
    // and the argmax prunes through WindowGroupLimit (bounded, not a
    // full per-entity sort-and-filter)
    val c18 = executed(SparkEntry.queries("c18_streaks")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(c18).size == 1,
      s"c18 must scan events once:\n$c18")
    assert("(?<!Reused)Exchange hashpartitioning".r.findAllIn(c18).size == 2,
      s"c18 must plan the map-combined distinct + entity re-key only:\n$c18")
    assert(c18.contains("WindowGroupLimit"),
      s"c18's argmax should prune through WindowGroupLimit:\n$c18")
    // dq7 anomalies: one scan; the daily rollup exchanges on
    // (key, day), the trailing window re-keys on the key alone —
    // both calendar-sized
    val dq7 = executed(SparkEntry.queries("dq7_anomalies")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(dq7).size == 1,
      s"dq7 must scan events once:\n$dq7")
    assert("(?<!Reused)Exchange hashpartitioning".r.findAllIn(dq7).size == 2,
      s"dq7 should plan rollup + window exchanges only:\n$dq7")
  }

  test("dq9 cusum: one scan, rollup + one shared window exchange; k11 zorder: zero exchanges") {
    // dq9: the per-key totals (unordered frame) and the prefix
    // sums / running mins (ordered frame) partition on the SAME keys —
    // one window exchange after the daily rollup, never a re-shuffle
    val dq9 = executed(SparkEntry.queries("dq9_cusum")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(dq9).size == 1,
      s"dq9 must scan events once:\n$dq9")
    assert("(?<!Reused)Exchange hashpartitioning".r.findAllIn(dq9).size == 2,
      s"dq9 should plan rollup + window exchanges only:\n$dq9")
    // k11: the (min, max) collect runs as its OWN tiny agg job at call
    // time; the layout key itself is a literal-parameterized pure
    // projection — one scan, no exchange, inside whole-stage codegen
    val k11 = executed(SparkEntry.queries("k11_zorder")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(k11).size == 1,
      s"k11 must scan lineitem once:\n$k11")
    assert(!k11.contains("Exchange"),
      s"k11's z-value projection must plan zero exchanges:\n$k11")
    assert("""\*\(\d+\) Project""".r.findFirstIn(k11).isDefined,
      s"k11's interleave must stay in whole-stage codegen ('*' marker):\n$k11")
  }

  test("c21 interval union: one scan, one key exchange, no join") {
    // gaps-and-islands end to end in one hash(key) family: the window
    // exchange is the ONLY shuffle — the (key, island) and (key)
    // rollups both satisfy their clustering off hash(key)
    val c21 = executed(SparkEntry.queries("c21_interval_union")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(c21).size == 1,
      s"c21 must scan events once:\n$c21")
    assert("(?<!Reused)Exchange hashpartitioning".r.findAllIn(c21).size == 1,
      s"c21 must ride one key exchange end to end:\n$c21")
    assert(!c21.contains("Join"), s"c21 must not plan a join:\n$c21")
  }

  test("d33 interval lookup plans a hash join, never a nested loop") {
    val d33 = executed(SparkEntry.queries("d33_interval_lookup")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!d33.contains("BroadcastNestedLoopJoin") &&
      !d33.contains("CartesianProduct"),
      s"bucketized interval lookup must stay an equi-join:\n$d33")
    assert(d33.contains("Join"), s"expected a join operator:\n$d33")
    assert("FileScan parquet".r.findAllIn(d33).size == 1,
      s"one events scan:\n$d33")
  }

  test("salted aggregation plans exactly two shuffle stages") {
    val plan = executed(SparkEntry.queries("b13_salted_agg_daily")(spark, sf))
      .split("== Initial Plan ==").head
    val exchanges = "(?<!Reused)Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2,
      s"expected (keys, salt) + keys exchanges, got $exchanges:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
  }

  test("ANN recall report shares ONE materialized normalized corpus") {
    // r3 verdict: each of the four searchers re-planned its own
    // scan+normalize — 8 embeddings FileScans in one plan. The shared
    // localCheckpoint collapses every consumer onto one materialization:
    // the final plan must read checkpointed blocks, not parquet.
    val plan = executed(SparkEntry.queries("f4_ann_recall")(spark, sf))
      .split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"f4 must not re-scan embeddings per searcher (was 8 pre-fix), got $scans:\n$plan")
  }

  test("ANN searchers plan the bounded-heap top-k — no Window, no candidate sort") {
    // r4 verdict: the searchers spelled top-k as row_number().over(w)
    // and only got the heap shape behind the opt-in rewriteTopK flag.
    // Now they call TopKPerKey directly: on a PLAIN session (no graft
    // extensions, no flag) every searcher must plan partial/final heaps
    // with zero WindowExec and zero sort of the candidate set.
    for (q <- Seq("f1_ann_bruteforce", "f2_ann_lsh", "f3_ann_ivf",
        "f5_ann_lsh_multi", "f9_ann_pq", "f10_ann_ivf_pq")) {
      val plan = executed(SparkEntry.queries(q)(spark, sf))
        .split("== Initial Plan ==").head
      assert(plan.contains("TopKPerKeyFinal") && plan.contains("TopKPerKeyPartial"),
        s"$q should plan the bounded-heap operator:\n$plan")
      assert(!plan.contains("Window ") && !plan.contains("WindowGroupLimit"),
        s"$q must not fall back to the window spelling:\n$plan")
      assert(!plan.toLowerCase.contains("sortexec"),
        s"$q must not sort candidate bodies:\n$plan")
    }
  }

  test("PQ searchers: native codegen'd ADC, bucket-local cell join for IVFADC") {
    // the ADC scan must run through the native PqAdc expression inside
    // whole-stage codegen — the interpreted aggregate(zip_with(...))
    // spelling read 44× at the 16× probe before the rewrite
    val f9 = executed(SparkEntry.queries("f9_ann_pq")(spark, sf))
      .split("== Initial Plan ==").head
    assert(f9.contains("pq_adc"), s"f9 should score via PqAdc:\n$f9")
    assert(!f9.contains("ArrayAggregate") && !f9.contains("ZipWith"),
      s"f9 must not fall back to interpreted HOFs:\n$f9")
    // the IVFADC composition joins candidates to probed queries on the
    // CELL key — a broadcast hash join, never a nested-loop cross of
    // corpus × queries
    import graft.operators.Similarity
    val emb = Tables0.embeddings(spark, sf)
    val f10 = executed(Similarity.ivfPqTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0),
      "vec_id", "embedding", 5, nCells = 16, nProbe = 4, shortlist = 64,
      dim = 64)).split("== Initial Plan ==").head
    assert(f10.contains("BroadcastHashJoin"),
      s"f10 should hash-join on cell:\n$f10")
    assert(f10.contains("pq_adc") && !f10.contains("ArrayAggregate"),
      s"f10 should score via PqAdc:\n$f10")
    assert(f10.contains("TopKPerKeyFinal"),
      s"f10 shortlist should run through the bounded heap:\n$f10")
  }

  test("g5 phash signing runs as a native codegen'd projection, no mapPartitions") {
    // the aHash signing pass must be the native PerceptualHash
    // expression inside whole-stage codegen — the Dataset mapPartitions
    // spelling broke codegen (SerializeFromObject/DeserializeToObject
    // boundaries) around a pure per-row byte loop
    val plan = executed(SparkEntry.queries("g5_mm_phash_dedup")(spark, sf))
      .split("== Initial Plan ==").head
    assert(plan.contains("perceptual_hash"),
      s"g5 should sign via PerceptualHash:\n$plan")
    assert(!plan.contains("DeserializeToObject") &&
      !plan.contains("MapPartitions"),
      s"g5 signing must not leave codegen for an object loop:\n$plan")
  }

  test("bloom contamination probe: one eval exchange, no join, codegen'd probe") {
    // the probe side must be a map-side projection (BloomProbe inside
    // whole-stage codegen) + ONE doc-key aggregation exchange; the
    // train side never appears in the probe plan (it was collapsed
    // into the broadcast sketch at build time)
    val plan = executed(SparkEntry.queries("h13_contamination_bloom")(spark, sf))
      .split("== Initial Plan ==").head
    val exchanges = "(?<!Reused)Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"probe should shuffle once on doc_id, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"the sketch spelling must not join:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"probe plan must scan only the eval side:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"))
  }

  test("multi-table LSH broadcasts the query side, never a cross product") {
    val plan = executed(SparkEntry.queries("f5_ann_lsh_multi")(spark, sf))
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"bucket join degenerated:\n$plan")
  }

  test("source mix: two-level agg, no unpartitioned Window over the strata") {
    // the cliff shape is Window over a SinglePartition exchange carrying
    // EVERY stratum; after the two-level-agg fix the only single-
    // partition work left is the scalar total's final agg, which sits
    // above a partial agg (one row per partition) — bounded by design
    val plan = executed(SparkEntry.queries("h11_source_mix")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"),
      s"source mix must not plan an unpartitioned window:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("Broadcast"),
      s"scalar total should broadcast back:\n$plan")
  }

  test("as-of join plans as tagged union + window — no join operator") {
    val plan = executed(SparkEntry.queries("d6_asof_join")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"),
      s"as-of must not plan a join (no range explosion):\n$plan")
    // the forward mirror keeps the same shape
    val fwd = executed(SparkEntry.queries("d32_asof_forward")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!fwd.contains("Join"),
      s"forward as-of must not plan a join:\n$fwd")
  }

  test("range join buckets into a hash equi-join, never nested-loop") {
    val plan = executed(SparkEntry.queries("d7_range_join")(spark, sf))
      .split("== Initial Plan ==").head
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"range join must be an equi-join:\n$plan")
    assert(!plan.contains("NestedLoop"),
      s"range join must never plan a nested loop:\n$plan")
  }

  test("int8 quantization is a pure projection: zero exchanges, one scan") {
    val df = SparkEntry.queries("f7_embedding_quantize")(spark, sf)
    val plan = executed(df)
    assert(!plan.contains("Exchange"), s"quantization must not shuffle:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"quantization must scan embeddings once:\n$plan")
  }

  test("sequence packing plans exactly one stratum exchange") {
    val plan = executed(SparkEntry.queries("k6_pack_sequences")(spark, sf))
      .split("== Initial Plan ==").head
    val exchanges = "(?<!Reused)Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"packing should shuffle once on the stratum key, got $exchanges:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
  }

  test("no-split packing plans one (stratum, class) exchange, no join") {
    val plan = executed(SparkEntry.queries("k6b_pack_nosplit")(spark, sf))
      .split("== Initial Plan ==").head
    val exchanges = "(?<!Reused)Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"harmonic packing should shuffle once on (stratum, class), got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"packing must not join:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
  }

  test("hash sampling is a pure filter: zero exchanges") {
    val df = SparkEntry.queries("k1_hash_sample")(spark, sf)
    val plan = executed(df)
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("dimension joins in d3 use broadcast, not shuffle, for small sides") {
    val plan = executed(SparkEntry.queries("d3_local_supplier_revenue")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
  }

  test("containment join plans as a hash equi-join (never nested-loop)") {
    val plan = executed(SparkEntry.queries("c2_containment_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"containment join degenerated to a cross product:\n$plan")
  }

  test("grouped aggregations do partial (map-side) aggregation before the shuffle") {
    val df = SparkEntry.queries("b1_agg_daily")(spark, sf)
    val plan = executed(df)
    // two HashAggregate nodes (partial + final) around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("bucketed tables join with ZERO exchange (co-located fact-fact join)") {
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.orders(spark, sf).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
      Tables.lineitem(spark, sf).write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
      val j = spark.table("orders_b")
        .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey").agg(sum("l_quantity").as("qty"))
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("hive-partitioned layout prunes partitions at the scan") {
    import graft.operators.TimeAgg
    val ev = Tables.events(spark, sf).withColumn("day", TimeAgg.dayKey(col("ts")))
    val day = ev.agg(org.apache.spark.sql.functions.max("day")).head().getString(0)
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    val df = spark.read.parquet(out).filter(col("day") === day).select("event_id")
    assert(df.count() > 0)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains(s"(day#") ,
      s"no partition pruning:\n$scan")
  }

  test("TopKPerKey matches the window row_number result and plans without Sort/Window") {
    val window = SparkEntry.queries("d4_topk_per_group")(spark, sf)
    val native = SparkEntry.queries("d8_topk_native")(spark, sf)
      .withColumn("rnk", col("rnk").cast("int"))
    val w = window.select("c_mktsegment", "o_orderkey", "o_totalprice", "rnk")
      .withColumn("rnk", col("rnk").cast("int"))
    assert(native.exceptAll(w).count() == 0 && w.exceptAll(native).count() == 0)
    val plan = executed(SparkEntry.queries("d8_topk_native")(spark, sf))
    assert(plan.contains("TopKPerKeyPartial") && plan.contains("TopKPerKeyFinal"),
      s"custom operator not planned:\n$plan")
    assert(!plan.contains("Window") && !plan.toLowerCase.contains("sortexec"),
      s"top-k still sorts/windows:\n$plan")
  }

  test("Q7/Q8/Q10/Q14 shapes: pushed scans, broadcast dims, top-N never a global sort") {
    // d21: the two-year window reaches the lineitem scan; the nation-
    // filtered supplier leg broadcasts. Asserted on the INITIAL plan:
    // at sf0.001 the nation pair has no trade at all, and AQE folds the
    // whole final plan into an EmptyRelation (itself worth keeping —
    // runtime zero-propagation is exactly what we want at scale)
    val d21 = executed(SparkEntry.queries("d21_nation_volume")(spark, sf))
      .split("== Initial Plan ==").last
    assert(d21.contains("GreaterThanOrEqual(l_shipdate"),
      s"d21's date range must reach the lineitem scan:\n$d21")
    assert(d21.contains("BroadcastHashJoin"),
      s"d21's dim legs must broadcast:\n$d21")
    // d22/d24: the conditional-ratio aggregates read the fact ONCE —
    // a num/den CASE pair in one agg, never two scans of lineitem
    val d22 = executed(SparkEntry.queries("d22_market_share")(spark, sf))
      .split("== Initial Plan ==").head
    assert("lineitem\\.parquet".r.findAllIn(d22).size == 1,
      s"d22 must scan lineitem exactly once:\n$d22")
    assert(d22.contains("EqualTo(p_type,ECONOMY)"),
      s"d22's type filter must reach the part scan:\n$d22")
    val d24 = executed(SparkEntry.queries("d24_promo_share")(spark, sf))
      .split("== Initial Plan ==").head
    assert("lineitem\\.parquet".r.findAllIn(d24).size == 1,
      s"d24 must scan lineitem exactly once:\n$d24")
    assert(d24.contains("GreaterThanOrEqual(l_shipdate"),
      s"d24's month window must reach the lineitem scan:\n$d24")
    // d23: global top-20 is a TakeOrderedAndProject (per-partition
    // heaps merged on the driver), never a full sort exchange
    val d23 = executed(SparkEntry.queries("d23_returned_revenue")(spark, sf))
    assert(d23.contains("TakeOrderedAndProject"),
      s"d23's top-20 must be TakeOrderedAndProject:\n$d23")
    assert(d23.contains("EqualTo(l_returnflag,R)"),
      s"d23's flag filter must reach the lineitem scan:\n$d23")
  }

  test("Q6/Q12/Q20 shapes: full pushdown, one-pass dual counts, semi-join chain") {
    // d26: every predicate reaches the scan, the scan reads exactly the
    // four touched columns, and there is no join and no shuffle beyond
    // the single global agg
    val d26 = executed(SparkEntry.queries("d26_forecast_revenue")(spark, sf))
    assert(d26.contains("GreaterThanOrEqual(l_shipdate") &&
      d26.contains("GreaterThanOrEqual(l_discount") &&
      d26.contains("LessThan(l_quantity"),
      s"d26's predicates must all reach the scan:\n$d26")
    assert(d26.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp"),
      s"d26 must read exactly the four touched columns:\n$d26")
    assert(!d26.contains("Join"), s"d26 must be join-free:\n$d26")
    // d27: both branch counts come from ONE pass — a single agg over a
    // single orders join, never two scans
    val d27 = executed(SparkEntry.queries("d27_linestatus_priority")(spark, sf))
      .split("== Initial Plan ==").head
    assert("orders\\.parquet".r.findAllIn(d27).size == 1,
      s"d27 must scan orders exactly once:\n$d27")
    // d28: supplier reduces through a semi join (never duplicated by
    // its qualifying shipments)
    val d28 = executed(SparkEntry.queries("d28_promotable_suppliers")(spark, sf))
      .split("== Initial Plan ==").head
    assert(d28.contains("LeftSemi"), s"d28 must semi-join:\n$d28")
  }

  test("filtered ANN: the attribute is the hash-join key, not a post-scoring filter") {
    val p = executed(SparkEntry.queries("f12_ann_filtered")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"f12 must hash-join on the attribute:\n$p")
    // the attr equality must be IN the join keys (off-block rows hash-
    // rejected before any dot product), not a filter above the join
    assert("BroadcastHashJoin \\[__ca".r.findFirstIn(p).isDefined ||
      p.contains("__qa#"), s"f12's attribute must be a join key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"f12 degenerated to a nested loop:\n$p")
  }

  test("state_agg: one window family + one hash agg, never a series self-join") {
    val p = executed(SparkEntry.queries("b26_state_agg")(spark, sf))
    assert("Window".r.findAllIn(p).size >= 1 &&
      !p.contains("Join"), s"b26 must be window→agg with no join:\n$p")
    assert(p.contains("HashAggregate"),
      s"b26's rollup must hash-aggregate:\n$p")
  }

  test("whole-stage codegen covers the hot aggregation path; no UDFs anywhere") {
    // '*(n)' is how executedPlan.toString marks WholeStageCodegen subtrees
    val d1 = executed(SparkEntry.queries("d1_pricing_summary")(spark, sf))
    assert(d1.contains("*("), s"pricing summary fell out of codegen:\n$d1")
    // text path uses higher-order functions (interpreted, columnar input) —
    // still must never degrade to a UDF or Python eval
    val h1 = executed(SparkEntry.queries("h1_text_quality")(spark, sf))
    Seq(d1, h1).foreach { p =>
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"))
    }
  }

  test("drift: two count scans, bin-sized join, window+agg share the keys exchange") {
    val plan = executed(SparkEntry.queries("dq4_drift")(spark, sf))
      .split("== Initial Plan ==").head
    // one scan per side (pushed ts filters), never re-read for totals
    assert("FileScan parquet".r.findAllIn(plan).size == 2,
      s"drift should scan events exactly twice (ref + cur):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bin join degenerated:\n$plan")
    // everything after the two count passes is sketch-sized: the window
    // and the final agg ride the same event_type hash family
    assert(plan.contains("Window"), s"totals window missing:\n$plan")
  }

  test("BPE corpus encode is a zero-shuffle codegen'd projection") {
    val df = graft.operators.Curation.bpeEncode(
      Tables.documents(spark, sf), "doc_id", "text",
      Seq(("e", "s"), ("es", "t"), ("t", "h")))
    val plan = executed(df)
    assert(!plan.contains("Exchange"), s"encode must not shuffle:\n$plan")
    assert(plan.contains("*("),
      s"native BpeSegment fell out of codegen:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
  }
  test("bloom-pruned join: probe filters the fact side BEFORE the join, under forced SMJ") {
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // dim "too big"
      val df = SparkEntry.queries("d30_bloom_pruned_join")(spark, sf)
      val plan = executed(df).split("== Initial Plan ==").head
      assert(plan.contains("bloom_probe"),
        s"d30 must probe the key sketch:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"d30's point is pruning a SHUFFLE join:\n$plan")
      // the probe must sit on the scan side of the exchange: the filter
      // string appears before the first join operator in the tree dump
      assert(plan.indexOf("bloom_probe") > plan.indexOf("Join"),
        s"probe must be below (after, in tree print) the join:\n$plan")
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("cdf rollup: windowless conditional agg over one scan; sketch-sized after the bins") {
    val df = SparkEntry.queries("b33_cdf_rollup")(spark, sf)
    val plan = executed(df).split("== Initial Plan ==").head
    assert(!plan.contains("Window"),
      s"b33 must not window — probe bins are constants:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"b33 must scan events once:\n$plan")
  }

  test("html extract: zero-shuffle codegen'd projection") {
    val df = SparkEntry.queries("h20_html_extract")(spark, sf)
    val plan = executed(df).split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"h20 must not shuffle:\n$plan")
    assert(plan.contains("*("), s"h20 fell out of codegen:\n$plan")
  }

  test("quality classifier: model broadcast into the scoring scan, one corpus read total") {
    val df = SparkEntry.queries("h21_quality_classifier")(spark, sf)
    val plan = executed(df).split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"h21 must broadcast the vocab-sized model:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"h21 must never shuffle-join the token stream:\n$plan")
    // r17: ONE corpus scan + ONE tokenize pass TOTAL — the shared
    // (doc_id, label, tokens) projection pinned at query build (that
    // pin job is where the single FileScan lives); the scoring plan
    // explodes the pinned leaf and never re-reads or re-tokenizes
    assert(!plan.contains("FileScan parquet"),
      s"h21 scoring must read the shared tokenized pin, not re-scan:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"h21 scoring must read the pinned projection:\n$plan")
  }

  test("r9 batch-3 newcomers: b34/b35 two exchanges, c11/c12 one scan no self-join") {
    // b34 ewma: the daily rollup agg + ONE entity window partitioning;
    // all 8 lag terms ride a single window family
    val b34 = executed(SparkEntry.queries("b34_ewma")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(b34).size == 1,
      s"b34 must scan events once:\n$b34")
    assert("(?<!Reused)Exchange hashpartitioning".r.findAllIn(b34).size == 2,
      s"b34: rollup agg + entity window only:\n$b34")
    assert("Window".r.findAllIn(b34).size == 1,
      s"b34's lags must share one window:\n$b34")
    // b35 autocorr: the entity agg rides the lag window's partitioning
    // — still two exchanges, never a third for the grouped sums
    val b35 = executed(SparkEntry.queries("b35_autocorr")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(b35).size == 1,
      s"b35 must scan events once:\n$b35")
    assert("(?<!Reused)Exchange hashpartitioning".r.findAllIn(b35).size == 2,
      s"b35: daily rollup + shared entity exchange:\n$b35")
    // c11/c12 are single-stream window passes: one scan, no
    // events-vs-events join anywhere
    for (q <- Seq("c11_transitions", "c12_attribution")) {
      val plan = executed(SparkEntry.queries(q)(spark, sf))
        .split("== Initial Plan ==").head
      assert("FileScan parquet".r.findAllIn(plan).size == 1,
        s"$q must scan events once:\n$plan")
      assert(!plan.contains("Join"), s"$q must not self-join events:\n$plan")
    }
  }

  test("graph shapes: l2 two exchanges no join; l3/h28 equi-joins only, pinned inputs") {
    // l2 co-occurrence: per-basket collect_set + in-row pair explode —
    // exactly two shuffles (basket agg, pair count), NO join operator
    // (the self-join spelling costs a third input-sized exchange)
    val l2 = executed(SparkEntry.queries("l2_copurchase")(spark, sf))
      .split("== Initial Plan ==").head
    assert("(?<!Reused)Exchange hashpartitioning".r.findAllIn(l2).size == 2,
      s"l2: basket agg + pair count only:\n$l2")
    assert(!l2.contains("Join"), s"l2 must not self-join:\n$l2")
    // l3 triangles + h28 pagerank: iterative/pinned graph ops — every
    // join a hash/broadcast EQUI-join (degree orientation + canonical
    // closure keys keep the wedge probe off nested loops), inputs
    // pinned so no parquet re-scan survives in the executed plan
    for (q <- Seq("l3_triangles", "h28_link_rank")) {
      val plan = executed(SparkEntry.queries(q)(spark, sf))
        .split("== Initial Plan ==").head
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must keep equi-joins:\n$plan")
      assert(!plan.contains("FileScan parquet"),
        s"$q's executed plan must run off the pinned frames:\n$plan")
    }
  }

  test("r10 audits: dq12/dq14 one scan with the counts subtree reused; dq13 one scan no window") {
    // dq12 benford and dq14 key-skew both consume their grouped-count
    // subtree TWICE (spine/summary + the report join) — the c10
    // lesson: without exchange reuse the raw scan runs twice
    val dq12 = executed(SparkEntry.queries("dq12_benford")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(dq12).size == 1,
      s"dq12 must scan the input once (single-consumer map spine):\n$dq12")
    assert(!dq12.contains("Join") && !dq12.contains("Window"),
      s"dq12: no spine join, no window — map lookups in-row:\n$dq12")
    // dq14: one scan + bounded TakeOrdered; the 1-row summary attaches
    // via the scalar-broadcast nested loop (a broadcast of ONE row —
    // the d18 grouped-vs-global shape), never a real cartesian
    val dq14 = executed(SparkEntry.queries("dq14_key_skew")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(dq14).size == 1,
      s"dq14 must scan the input once (counts exchange reused):\n$dq14")
    assert(dq14.contains("TakeOrderedAndProject"),
      s"dq14: top-N must stay a bounded TakeOrdered, not a global sort:\n$dq14")
    assert(!dq14.contains("CartesianProduct"),
      s"dq14: the summary join must broadcast:\n$dq14")
    val dq13 = executed(SparkEntry.queries("dq13_fd_check")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(dq13).size == 1 &&
      !dq13.contains("Window"),
      s"dq13: one scan, grouped aggs only:\n$dq13")
    // c20 golden record: ONE grouped aggregation, no window — and the
    // load-bearing scale property: partial max_by runs MAP-SIDE, so the
    // exchange carries one (value, ordering) candidate per (key, field)
    // per mapper, not rows (struct-ordered max_by plans as
    // SortAggregate; its per-partition group-key sort is the agg
    // implementation, not a data sort)
    val c20 = executed(SparkEntry.queries("c20_golden_record")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(c20).size == 1 &&
      !c20.contains("Window"),
      s"c20: one scan, one grouped agg, no window:\n$c20")
    assert(c20.contains("partial_max_by"),
      s"c20: max_by must combine map-side before the exchange:\n$c20")
  }

  test("b41 rolling percentile: one raw scan; trailing merge is an in-row fan-out, not a range join") {
    // the bins collapse to sketch size in ONE pass over raw; the x7
    // calendar explode + grouped sum + semi-join + percentile windows
    // all run on bins-sized frames — and no nested-loop join sneaks in
    // where a range-join spelling would have put one
    val plan = executed(SparkEntry.queries("b41_rolling_pctl")(spark, sf))
      .split("== Initial Plan ==").head
    // the bins pin absorbs the one raw scan (a single linear
    // histBinCounts plan); both consumers read the pinned sketch-sized
    // frame — zero parquet scans in the executed estimate plan (the f4
    // discipline)
    assert("FileScan parquet".r.findAllIn(plan).size == 0,
      s"b41 must read raw events only inside the bins pin:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"b41: the trailing window must not plan a nested-loop range join:\n$plan")
  }

  test("j14 apply_cdc: log collapses map-side before ONE equi-join; no window") {
    // the MERGE cost model: the change log reduces to one winning row
    // per key BEFORE the join (partial max_by — the exchange carries
    // combiner output, not log rows), then a single key-partitioned
    // full-outer join against the snapshot
    val plan = executed(SparkEntry.queries("j14_apply_cdc")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size == 2,
      s"j14: one log scan + one snapshot scan:\n$plan")
    assert(plan.contains("partial_max_by"),
      s"j14: winning change must combine map-side before the exchange:\n$plan")
    assert(!plan.contains("Window"),
      s"j14: no window — the latest pick is a grouped max_by:\n$plan")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size == 1 &&
      plan.contains("FullOuter"),
      s"j14: exactly one full-outer equi-join:\n$plan")
  }

  test("dq3 mad outliers: one scan, one keys exchange, no join — the window pipeline") {
    // The aggregate-and-join-back spelling could never reach one scan:
    // the med/MAD branches prune to (keys, value) while the flag
    // branch keeps all columns, so the anchor canonicalizes into TWO
    // exchanges (caught by this guard in the r11 full-suite run). The
    // window spelling is a straight pipeline on one shuffled frame.
    val plan = executed(SparkEntry.queries("dq3_mad_outliers")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"dq3: events must be scanned once:\n$plan")
    assert(!plan.contains("Join"),
      s"dq3: median/MAD/flag need no join:\n$plan")
    assert("(?<!Reused)Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"dq3: one keys-hash exchange feeds both windows:\n$plan")
  }

  test("dq3b bounded mad: never shuffles the input — two pruned passes, stats broadcast") {
    // the bins spelling trades passes for shuffles: bin counts
    // partial-aggregate map-side (the only hash exchanges are
    // groups×bins-sized), the group-count-sized med table is pinned
    // once and both stat tables ride BroadcastExchanges back
    val plan = executed(SparkEntry.queries("dq3b_mad_hist")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size <= 2,
      s"dq3b: at most the MAD pass + the output pass read the source:\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2,
      s"dq3b: med and mad tables must broadcast back:\n$plan")
  }

  test("dq15 ab_test: one scan, one input-sized exchange, no window/join") {
    val plan = executed(SparkEntry.queries("dq15_ab_test")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"dq15: events must be scanned once:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"dq15: per-user rollup + arm pivot needs no join or window:\n$plan")
  }

  test("k12 dsir: ONE scoring scan, both model probes broadcast, bounded cut") {
    // the two trainCharLm models pin eagerly (vocab-sized
    // localCheckpoints — the train-once artifacts), so the SCORING
    // plan is what executes per deployment batch: one corpus scan,
    // two broadcast probes (never a gram-stream shuffle against the
    // models), and a bounded TakeOrdered cut — no global sort
    val plan = executed(SparkEntry.queries("k12_dsir_select")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"k12: scoring reads the corpus once (models are pinned):\n$plan")
    // each model contributes its vocab-sized prefix join + a scoring
    // probe — ALL of them must broadcast; a shuffled join would mean
    // the gram stream is being exchanged against a model
    assert("(?<!Broadcast)HashJoin|SortMergeJoin".r.findAllIn(plan).isEmpty,
      s"k12: every model join must broadcast, none shuffled:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"k12: both model probes must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"k12: the top-n cut must be a bounded TakeOrdered:\n$plan")
    assert(!plan.contains("Window"), s"k12: no window:\n$plan")
  }

  test("b42 kmv set ops: the report reads pinned sketches only") {
    // both bottom-k collapses pin eagerly (k-sized localCheckpoints);
    // the executed report plan must touch NO raw input — every stage
    // after the pins is k-bounded sketch algebra
    val plan = executed(SparkEntry.queries("b42_distinct_setops")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).isEmpty,
      s"b42: the one-row report must never re-read raw input:\n$plan")
    assert(!plan.contains("Window"),
      s"b42: no window anywhere in the sketch algebra:\n$plan")
  }

  test("l11 communities: rounds plan equi-joins only, no window") {
    val plan = executed(SparkEntry.queries("l11_communities")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"),
      s"l11: per-round argmax is a struct max agg, not a window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"l11: label joins must stay equi-joins:\n$plan")
  }

  test("c22 multi-touch: one scan, one entity window, no self-join") {
    // the four credit models ride ONE range-window pass: an
    // events×events pairing join here would be the c10-lesson double
    // scan one step worse (quadratic per entity, not just re-read)
    val plan = executed(SparkEntry.queries("c22_multi_touch")(spark, sf))
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"c22: events must be scanned once:\n$plan")
    assert(!plan.contains("Join"),
      s"c22: touch pairing must not plan a self-join:\n$plan")
    val exchanges = "(?<!Reused)Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2,
      s"c22: entity window + (|types|+1)-sized final agg = 2 exchanges, "
        + s"got $exchanges:\n$plan")
  }
}

/** Every declared query runs and the flagship returns rows. */
class QueriesSmokeSpec extends SparkSpec {
  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every queries entry evaluates at sf0.001 with stable column names") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty)
    }
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}
