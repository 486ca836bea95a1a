package graft

import graft.operators.{Dedup, Graphs, Pins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Pin hygiene (r13 verdict #2) and the checkpoint-mode dial (#3).
  *
  * Hygiene contract: an iterative operator may retain ONLY the pins the
  * returned frame reads — every superseded loop pin and every consumed
  * setup pin is released inside the call. A library user composing
  * several iterative operators in one long session must not accumulate
  * dead storage blocks (the bench harness's between-query janitor
  * masked this; a real caller has no janitor).
  *
  * Mode contract: `spark.graft.checkpointMode=reliable` routes every
  * pin through `Dataset.checkpoint()` (checkpoint-dir files, surviving
  * executor loss) and produces row-for-row identical results — all
  * these operators are deterministic integer arithmetic. */
class PinsSpec extends SparkSpec {
  import spark.implicits._

  private def pinnedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `op`, consumes its result, and returns (result frame, ids of
    * persistent RDDs the call left behind). */
  private def retained(op: => DataFrame): (DataFrame, Set[Int]) = {
    val before = pinnedIds
    val out = op
    out.collect()
    (out, pinnedIds -- before)
  }

  private val edges =
    Seq((1L, 2L), (2L, 1L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
      .toDF("s", "t")

  test("pageRank + clusters back-to-back retain only the returned frames' pins") {
    val before = pinnedIds
    val (pr, prNew) = retained(Graphs.pageRank(edges, "s", "t", iters = 5))
    assert(prNew.size == 1,
      s"pageRank must retain exactly its final rank pin, got ${prNew.size}")
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b")
    val (cl, clNew) = retained(Dedup.clusters(pairs, "a", "b"))
    assert(clNew.size == 1,
      s"clusters must retain exactly its final label pin, got ${clNew.size}")
    // the retained pins are exactly the returned frames' backing blocks:
    // releasing them restores the pre-call block-manager state
    Pins.release(pr, cl)
    assert(pinnedIds == before, "releasing the returned frames restores baseline")
  }

  test("hits retains only the final mass pins, nothing else") {
    val (out, fresh) = retained(Graphs.hits(edges, "s", "t", iters = 3))
    // final auth mass + final hub mass back the returned frame (node
    // rows ride inside each mass pin since the r17 zero-row fold)
    assert(fresh.size == 2, s"hits should retain 2 pins, got ${fresh.size}")
    Pins.release(out)
    assert((pinnedIds intersect fresh).isEmpty)
  }

  test("bfsDepth, kcore, labelPropagation each retain exactly one pin") {
    val seeds = Seq(1L).toDF("n")
    val (bfs, bNew) = retained(Graphs.bfsDepth(edges, "s", "t", seeds))
    assert(bNew.size == 1, s"bfsDepth: ${bNew.size}")
    val (kc, kNew) = retained(Graphs.kcore(edges, "s", "t", k = 2))
    assert(kNew.size == 1, s"kcore: ${kNew.size}")
    val (lp, lNew) = retained(Graphs.labelPropagation(edges, "s", "t"))
    assert(lNew.size == 1, s"labelPropagation: ${lNew.size}")
    Pins.release(bfs, kc, lp)
    assert((pinnedIds intersect (bNew ++ kNew ++ lNew)).isEmpty)
  }

  /** The pins `op` takes (local-mode checkpoints, counted by a query
    * listener) and the rounds its `name` loop steps (the observations
    * [[Pins.iterate]] names `name/1`, `name/2`, … on those pins). */
  private def pinsAndRounds(name: String)(op: => DataFrame): (Int, Int) = {
    val pins = new java.util.concurrent.atomic.AtomicInteger(0)
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    val round = (java.util.regex.Pattern.quote(name) + ".*/\\d+").r
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (funcName == "localCheckpoint") {
          pins.incrementAndGet()
          if (qe.observedMetrics.keys.exists(round.matches(_))) rounds.incrementAndGet()
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Pins.release(op)
      org.apache.spark.graft.ListenerBridge.waitUntilListenersProcessed(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    (pins.get(), rounds.get())
  }

  test("kcore and bfsDepth take one pin per round") {
    // the cascade graph peels twice and confirms in a third round; its
    // one setup pin is the canonical edge list (one layout partition)
    val cascade = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    val (kPins, kRounds) = pinsAndRounds("k-core")(Graphs.kcore(cascade, "s", "t", k = 2))
    assert(kRounds == 3 && kPins == 1 + kRounds, s"kcore: $kPins pins, $kRounds rounds")
    // the path settles one ring per round and ends on the empty fifth;
    // setup pins the edge list and the seed ring
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    val (bPins, bRounds) = pinsAndRounds("bfsDepth")(
      Graphs.bfsDepth(path, "s", "t", Seq(1L).toDF("n"), maxDepth = 6))
    assert(bRounds == 5 && bPins == 2 + bRounds, s"bfsDepth: $bPins pins, $bRounds rounds")
  }

  test("scc retains only its result-backing pins on both physical paths") {
    val directed = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("s", "t")
    // fast path: one pin (the normalized edge frame the single-task
    // Kosaraju reads)
    val (out, fresh) = retained(Graphs.scc(directed, "s", "t"))
    assert(fresh.size == 1, s"scc local path should retain 1 pin, got ${fresh.size}")
    Pins.release(out)
    assert((pinnedIds intersect fresh).isEmpty)
    // distributed path: the node pin + the extracted-assignment pin
    val (out2, fresh2) =
      retained(Graphs.scc(directed, "s", "t", localThreshold = 0L))
    assert(fresh2.size == 2,
      s"scc distributed path should retain 2 pins, got ${fresh2.size}")
    Pins.release(out2)
    assert((pinnedIds intersect fresh2).isEmpty)
  }

  test("triangles retains its two result-backing pins (degrees + oriented edges)") {
    val (tri, fresh) = retained(Graphs.triangles(edges, "s", "t"))
    assert(fresh.size == 2, s"triangles: ${fresh.size}")
    Pins.release(tri)
    assert((pinnedIds intersect fresh).isEmpty)
  }

  test("released returned frames were the ONLY retained state across a composed session") {
    // the library-user scenario the r13 verdict names: several
    // iterative operators composed in one session must leave the block
    // manager exactly as found once their results are released
    val before = pinnedIds
    val frames = Seq(
      Graphs.pageRank(edges, "s", "t", iters = 4),
      Graphs.hits(edges, "s", "t", iters = 2),
      Graphs.bfsDepth(edges, "s", "t", Seq(1L).toDF("n")),
      Dedup.clusters(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b"))
    frames.foreach(_.collect())
    Pins.release(frames: _*)
    assert(pinnedIds == before)
  }

  test("checkpointMode=reliable produces row-identical results on the L-family fixtures") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    def all(): Map[String, Set[Seq[Any]]] = Map[String, DataFrame](
      "pageRank" -> Graphs.pageRank(edges, "s", "t", iters = 5),
      "hits" -> Graphs.hits(edges, "s", "t", iters = 3),
      "bfs" -> Graphs.bfsDepth(edges, "s", "t", Seq(1L).toDF("n")),
      "kcore" -> Graphs.kcore(edges, "s", "t", k = 2),
      "labelProp" -> Graphs.labelPropagation(edges, "s", "t"),
      "clusters" -> Dedup.clusters(Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b"), "a", "b")
    ).map { case (k, df) => k -> df.collect().map(_.toSeq).toSet }
    val local = all()
    spark.conf.set(Pins.ModeKey, "reliable")
    try {
      val reliable = all()
      local.keys.foreach { k =>
        assert(reliable(k) == local(k), s"$k diverged between checkpoint modes")
      }
    } finally {
      spark.conf.unset(Pins.ModeKey)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("pin stats stay capped across iterative re-pinning (no BigInt digit explosion)") {
    // checkpoint copies the origin plan's size estimate onto the new
    // leaf; the size-only estimator multiplies join children, so
    // un-capped iterative pins DOUBLE their sizeInBytes digit count
    // per round (measured 6 -> 1310 digits in 8 rounds) and melt the
    // driver in million-digit stats multiplications past ~20 rounds —
    // the L13 probe hang that motivated the cap
    val cap = BigInt(Long.MaxValue)
    var a = Pins.pin(Seq.tabulate(64)(i => (i.toLong, i.toLong)).toDF("k", "v"))
    for (_ <- 1 to 6) {
      val joined = a.join(a.select(col("k"), col("v").as("v2")), "k")
        .select(col("k"), col("v"))
      val next = Pins.pin(joined)
      Pins.release(a)
      a = next
      val size = a.queryExecution.analyzed.stats.sizeInBytes
      assert(size <= cap, s"pin stats exceeded the cap: $size")
    }
    Pins.release(a)
  }

  test("a pin is measured from its stored blocks while the app-status queue is held") {
    // the status store behind getRDDStorageInfo is filled by the listener
    // bus, asynchronously; a listener that blocks the app-status queue
    // keeps every block update of the pin below out of it, as a loaded
    // host does. The pin's size must still be the bytes it stored
    val sc = spark.sparkContext
    val gate = new java.util.concurrent.CountDownLatch(1)
    val holder = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    org.apache.spark.graft.StatusQueue.add(sc, holder)
    val pinned =
      try Pins.pin(spark.range(0, 20000).selectExpr("id", "cast(id % 97 as string) as k"))
      finally { gate.countDown(); sc.removeSparkListener(holder) }
    val size = pinned.queryExecution.analyzed.stats.sizeInBytes
    val rddId = pinned.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    org.apache.spark.graft.ListenerBridge.waitUntilListenersProcessed(sc)
    val stored = sc.getRDDStorageInfo.find(_.id == rddId)
      .map(i => BigInt(i.memSize + i.diskSize))
    Pins.release(pinned)
    assert(stored.exists(_ > 0) && stored.contains(size),
      s"pin size $size, stored blocks $stored")
  }

  test("pins debug guard: a pin over a RELEASED pin fails immediately with a named error") {
    // the r14-advice seam: without the guard, a misplaced release on a
    // localCheckpoint leaf (no lineage to recompute from) surfaces as a
    // missing-block failure far from the bug; with
    // spark.graft.pins.debug=true the NEXT pin names the misuse site
    spark.conf.set(Pins.DebugKey, "true")
    try {
      val a = Pins.pin(Seq((1L, 2L), (3L, 4L)).toDF("k", "v"))
      val downstream = a.select(col("k"), (col("v") + 1).as("v"))
      Pins.release(a) // WRONG: downstream still reads a's blocks
      val e = intercept[IllegalStateException] { Pins.pin(downstream) }
      assert(e.getMessage.contains("RELEASED pin") &&
        e.getMessage.contains("released at"), e.getMessage)
      // live pins stay silent: a fresh pin chain is unaffected
      val b = Pins.pin(Seq(1L).toDF("x"))
      val c = Pins.pin(b.select((col("x") + 1).as("x")))
      assert(c.count() == 1)
      Pins.release(b, c)
    } finally spark.conf.unset(Pins.DebugKey)
    // and OFF by default: the same misuse is not intercepted (it would
    // surface at action time) — the guard must cost nothing when unset
    val a2 = Pins.pin(Seq(5L).toDF("x"))
    val down2 = a2.select(col("x"))
    Pins.release(a2)
    Pins.release(Pins.pin(spark.range(1).toDF("x"))) // no exception path
    assert(down2 != null)
  }

  test("capStats preserves the origin rowCount and attributeStats when capping") {
    // build a frame whose pinned stats exceed the cap (self-join digit
    // growth), then assert the capped leaf kept the origin row count
    // metadata shape (r14 advice: the old rebuild dropped it)
    var a = Pins.pin(Seq((1L, 1L), (2L, 2L)).toDF("k", "v"))
    (0 until 12).foreach { _ =>
      val joined = a.join(a.select(col("k"), col("v").as("v2")), "k")
        .select(col("k"), col("v"))
      val next = Pins.pin(joined)
      Pins.release(a)
      a = next
    }
    val st = a.queryExecution.analyzed.stats
    assert(st.sizeInBytes <= BigInt(Long.MaxValue))
    Pins.release(a)
  }

  test("checkpointMode validation: a bogus mode fails loudly, naming the conf key") {
    val df = Seq(1L).toDF("x")
    spark.conf.set(Pins.ModeKey, "bogus")
    try {
      val e = intercept[IllegalArgumentException] { Pins.pin(df) }
      assert(e.getMessage.contains(Pins.ModeKey))
    } finally spark.conf.unset(Pins.ModeKey)
  }

  // ---- layout-preservation contract (r16 verdict #2): the pin layer
  // DECLARES partitioning/ordering on a checkpoint leaf; a wrong
  // declaration would produce wrong joins silently at scale, so the
  // declared metadata must provably match the data's actual placement.

  test("pinBy declares the layout the data actually has: hash placement and sort order") {
    // tiny per-partition target so the fixture genuinely lays out >1
    // partition (the <=1-partition fast path declares nothing extra)
    spark.conf.set(Pins.TargetPartitionBytesKey, "1024")
    try {
      val df = spark.range(0, 20000)
        .selectExpr("id % 97 as k", "id as v").toDF()
      val laid = Pins.pinBy(df, "k")
      val lr = laid.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
      lr.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          assert(h.references.map(_.name).toSeq == Seq("k"),
            s"layout key mismatch: ${h.references}")
          assert(h.numPartitions > 1, "fixture must lay out >1 partition")
          // HashPartitioning places a row at pmod(murmur3(keys), n); the
          // SQL hash() function IS that Murmur3 (same 42 seed) — every
          // row must sit in the partition the DECLARED layout names
          val misplaced = laid
            .selectExpr("spark_partition_id() as pid",
              s"pmod(hash(k), ${h.numPartitions}) as want")
            .filter(col("pid") =!= col("want")).count()
          assert(misplaced == 0,
            s"$misplaced rows not where the declared HashPartitioning puts them")
        case other => fail(s"expected HashPartitioning on the laid leaf, got $other")
      }
      // declared per-partition ordering names the layout key, and the
      // data really is sorted within every partition
      assert(lr.outputOrdering.nonEmpty &&
        lr.outputOrdering.head.references.map(_.name).toSeq == Seq("k"),
        s"ordering: ${lr.outputOrdering}")
      val unsorted = laid.rdd.mapPartitions { it =>
        val ks = it.map(_.getLong(0)).toSeq
        Iterator.single(if (ks == ks.sorted) 0 else 1)
      }.sum()
      assert(unsorted == 0, "a laid partition is not sorted by the layout key")
      Pins.release(laid)
    } finally spark.conf.unset(Pins.TargetPartitionBytesKey)
  }

  test("preserveLayout kill-switch: leaf stays undeclared and results are identical") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    def leafPartitioning(df: DataFrame) =
      df.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].outputPartitioning
    // switch ON (default): a pin over an explicit hash layout declares it
    val on = Pins.pin(Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("k", "v")
      .repartition(2, col("k")))
    assert(leafPartitioning(on).isInstanceOf[HashPartitioning],
      s"expected declared HashPartitioning, got ${leafPartitioning(on)}")
    // switch OFF: same pin declares nothing
    spark.conf.set(Pins.PreserveLayoutKey, "false")
    val off = try {
      Pins.pin(Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("k", "v")
        .repartition(2, col("k")))
    } finally spark.conf.unset(Pins.PreserveLayoutKey)
    assert(!leafPartitioning(off).isInstanceOf[HashPartitioning],
      s"kill-switch leaked a declared layout: ${leafPartitioning(off)}")
    Pins.release(on, off)
  }

  test("pinBy frame joined on its layout key: identical rows with preserveLayout on and off") {
    spark.conf.set(Pins.TargetPartitionBytesKey, "1024")
    def run(): Set[Seq[Any]] = {
      val edges = spark.range(0, 5000)
        .selectExpr("id % 53 as src", "id % 977 as dst").toDF()
      val laid = Pins.pinBy(edges, "src")
      val dim = spark.range(0, 53).selectExpr("id as src", "id * 2 as w").toDF()
      val out = laid.join(dim, "src").selectExpr("src", "dst", "w")
        .collect().map(_.toSeq).toSet
      Pins.release(laid)
      out
    }
    try {
      val withLayout = run()
      spark.conf.set(Pins.PreserveLayoutKey, "false")
      val without = try run() finally spark.conf.unset(Pins.PreserveLayoutKey)
      assert(withLayout == without,
        "declared layout changed join results — the declaration is wrong")
      assert(withLayout.size == 5000)
    } finally spark.conf.unset(Pins.TargetPartitionBytesKey)
  }

  test("pinObserved: the metrics row equals a direct aggregate and rows are unchanged") {
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    val df = spark.range(0, 10000)
      .selectExpr("id % 17 as k", "id as v",
        "id % 100 = 0 as changed").toDF()
    val (pinned, row) = Pins.pinObserved(df, "probe",
      count(when(col("changed"), lit(1))).as("n_changed"),
      sum(col("v")).as("tot"))
    // the probe rode the pin pass — its values must equal the same
    // aggregates computed the expensive way (a standalone action); a
    // row that did not surface would have thrown inside pinObserved
    val direct = df.agg(
      count(when(col("changed"), lit(1))), sum(col("v"))).head()
    assert(row.getLong(0) == direct.getLong(0) &&
      row.getLong(1) == direct.getLong(1),
      s"observed $row != direct $direct")
    // CollectMetrics passes rows through: the pinned frame is the input
    assert(pinned.count() == 10000)
    assert(pinned.columns.toSeq == df.columns.toSeq)
    Pins.release(pinned)
  }

  test("pinByWith fuses the attach into the layout: same rows as pinBy + join, layout declared, metrics surface") {
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    spark.conf.set(Pins.TargetPartitionBytesKey, "1024")
    try {
      val edges = spark.range(0, 20000)
        .selectExpr("id % 97 as src", "id as dst", "1 + id % 3 as w").toDF()
      val (laid, metrics) = Pins.pinByWith(edges, Seq("src"), d =>
        d.withColumn("total_w", sum(col("w")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
          .observe("wcheck", count(when(col("w") <= 0, lit(1))).as("bad")))
      // the observe() attached inside `finish` surfaces through the return
      val wcheck = metrics("wcheck")
      assert(wcheck.getLong(0) == 0L, s"expected wcheck = 0, got $wcheck")
      // row set identical to the reference spelling (groupBy + join)
      val want = edges.join(
          edges.groupBy("src").agg(sum("w").as("total_w")), "src")
        .select("src", "dst", "w", "total_w")
        .collect().map(_.toSeq).toSet
      val got = laid.select("src", "dst", "w", "total_w")
        .collect().map(_.toSeq).toSet
      assert(got == want, "fused window totals differ from groupBy+join totals")
      // the laid leaf declares the layout key like pinBy does, and the
      // fused window/observe did not disturb placement
      val lr = laid.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
      lr.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          assert(h.references.map(_.name).toSeq == Seq("src"))
          val misplaced = laid
            .selectExpr("spark_partition_id() as pid",
              s"pmod(hash(src), ${h.numPartitions}) as want")
            .filter(col("pid") =!= col("want")).count()
          assert(misplaced == 0,
            s"$misplaced rows not where the declared layout puts them")
        case other => fail(s"expected HashPartitioning on the laid leaf, got $other")
      }
      Pins.release(laid)
    } finally spark.conf.unset(Pins.TargetPartitionBytesKey)
  }

  // ---- the fixpoint driver and the missing-metrics rule: one place for
  // the contract every ported loop (dedup clusters, the scc label
  // fixpoints, condense's relaxation) relies on

  /** A countdown loop: each round lowers every positive `v` by one, and
    * the witness counts the rows still positive. */
  private def countdown(maxIter: Int, from: Long): (DataFrame, Int) = {
    import org.apache.spark.sql.functions.{count, greatest, lit, when}
    val nPos = count(when(col("v") > 0, lit(1))).as("n_pos")
    val seed = spark.range(0, 5).selectExpr(s"least(id, $from) as v").toDF()
    val (out, _, rounds) = Pins.iterate("countdown",
        Pins.pinObserved(seed, "countdown/seed", nPos), maxIter, nPos)(
      cur => cur.select(greatest(col("v") - 1, lit(0L)).as("v")))(
      (_, row, _) => row.getLong(0) == 0L)
    (out, rounds)
  }

  test("iterate: a seed that has already converged takes 0 rounds and is the result") {
    val before = pinnedIds
    val (out, rounds) = countdown(maxIter = 3, from = 0L)
    assert(rounds == 0)
    assert(out.as[Long].collect().toSeq == Seq.fill(5)(0L))
    assert(pinnedIds -- before == pinIds(out), "only the seed pin is retained")
    Pins.release(out)
    assert(pinnedIds == before)
  }

  test("iterate: after several rounds only the final pin is retained") {
    val before = pinnedIds
    val (out, rounds) = countdown(maxIter = 10, from = 4L)
    // v = 0..4 needs four rounds to reach all-zero
    assert(rounds == 4, s"rounds: $rounds")
    assert(out.as[Long].collect().toSeq == Seq.fill(5)(0L))
    val kept = pinnedIds -- before
    assert(kept.size == 1 && kept == pinIds(out),
      s"iterate must retain exactly its final pin, kept $kept")
    Pins.release(out)
    assert(pinnedIds == before)
  }

  test("iterate: a loop still unconverged after maxIter rounds throws naming the loop and maxIter") {
    val before = pinnedIds
    val e = intercept[IllegalArgumentException](countdown(maxIter = 2, from = 4L))
    assert(e.getMessage.contains("countdown") && e.getMessage.contains("2 rounds"),
      e.getMessage)
    assert(pinnedIds == before, "a failed loop must not leave its last pin behind")
  }

  test("iterate: the convergence rule sees the previous witness row (None on the seed)") {
    import org.apache.spark.sql.functions.{lit, sum}
    // a witness that freezes: sum(v) stops moving once every v is 0
    val seen = scala.collection.mutable.ArrayBuffer[(Option[Long], Int)]()
    val s = sum(col("v")).as("s")
    val (out, last, rounds) = Pins.iterate("frozen-sum",
        Pins.pinObserved(spark.range(0, 3).selectExpr("id as v").toDF(), "frozen-sum/seed", s),
        10, s)(
      cur => cur.selectExpr("greatest(v - 1, 0) as v"))(
      (prev, row, round) => { seen += (prev.map(_.getLong(0)) -> round); prev.contains(row) })
    // sums 3, 1, 0, 0: frozen on the third round; the seed is round 0
    assert(rounds == 3, s"rounds: $rounds")
    assert(seen.toSeq == Seq(None -> 0, Some(3L) -> 1, Some(1L) -> 2, Some(0L) -> 3),
      s"seen: $seen")
    assert(last.getLong(0) == 0L, s"last witness row: $last")
    Pins.release(out)
  }

  test("a pin whose observed metrics never surface fails naming the observation and its reader") {
    // an executed frame that carries no such observation: the lookup
    // must throw a named error, never hand back a row to fall back from
    val df = spark.range(3).toDF("x")
    df.collect()
    val e = intercept[IllegalStateException](Pins.observedRow(df, "some_metrics"))
    assert(e.getMessage.contains("PinsSpec") &&
      e.getMessage.contains("some_metrics"), e.getMessage)
  }

  private def pinIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
}
