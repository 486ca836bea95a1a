package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-pin discipline for the iterative operators (pageRank, HITS,
  * k-core, BFS, label propagation, dedup clusters): every loop cuts
  * lineage with an eager checkpoint so plans stay constant-depth, and
  * every SUPERSEDED pin is released once its successor materializes —
  * without the release, a library user composing several iterative
  * operators in one long session accumulates dead pinned blocks until
  * driver GC happens to reap them (a slow storage-memory leak at
  * exactly the long-session 100 TB deployments this engine targets;
  * the bench harness masked it by clearing all persistent RDDs between
  * queries, which a library caller has no reason to do).
  *
  * Two pin modes, selected by session conf `spark.graft.checkpointMode`:
  *
  *  - `local` (default): `Dataset.localCheckpoint()` — executor-local
  *    blocks, no HDFS round-trip, right for local[] and short jobs.
  *    Blocks die with their executor, so on a real cluster a lost
  *    executor RESTARTS the whole query (lineage is truncated — there
  *    is nothing to recompute from).
  *  - `reliable`: `Dataset.checkpoint()` — files under
  *    `sparkContext.setCheckpointDir(...)` (HDFS/object store),
  *    surviving executor loss: the right dial for long iterative
  *    chains on a 1000-executor run, at the cost of one write+read of
  *    the pinned frame per pin. Checkpoint FILES are reclaimed by
  *    Spark only with `spark.cleaner.referenceTracking.cleanCheckpoints`
  *    — point the dir at job-scoped scratch storage.
  *
  * Both modes return a frame whose plan is a leaf over the
  * materialized data, so results are bit-identical across modes
  * (spec-asserted on the L-family fixtures — every operator result
  * here is deterministic integers).
  *
  * [[release]] is for pins that are provably DEAD: a localCheckpoint
  * leaf has no lineage to recompute from, so releasing a pin that the
  * returned frame still reads would make downstream actions fail with
  * missing-block errors. Operators therefore release (a) superseded
  * loop pins once the successor pin has materialized (pins are eager)
  * and (b) setup pins whose last consumer has materialized, and they
  * DOCUMENT the pins the returned frame reads (those must outlive the
  * call; the caller releases them by unpersisting the returned frame's
  * blocks or letting the session end).
  *
  * Every convergence loop — dedup clusters / connected components,
  * k-core peeling, BFS rings, the scc trim and label fixpoints,
  * condense's level relaxation — runs on [[iterate]]: one pin per
  * round, each round's convergence witness read off that pin's own pass
  * ([[pinObserved]]), the superseded pin released once its successor
  * has materialized, and an exhausted round budget turned into a named
  * error. A missing observed-metrics row is one named error too
  * ([[observedRow]]): no caller keeps a second probe to fall back to.
  * Two kinds of loop stay outside it: the distributed scc outer loop,
  * which takes several pins per round and reads its remaining-edge
  * count off one of them, and the fixed-round loops (pageRank,
  * labelPropagation, HITS), which have no convergence test and keep
  * their own pin cadence. */
object Pins {
  val ModeKey = "spark.graft.checkpointMode"

  /** Debug guard (r14 advice): `spark.graft.pins.debug=true` records
    * every released pinned-RDD id (with the releasing call site) and
    * turns a LATER pin over a released pin into an immediate, NAMED
    * error — instead of the missing-block failure a misplaced release
    * on a lineage-less localCheckpoint leaf otherwise surfaces far
    * from the bug. Off by default (a conf read + map lookup per pin is
    * cheap but not free, and release-safety on the shipped operators
    * is spec-gated); turn it on when composing new iterative
    * operators. */
  val DebugKey = "spark.graft.pins.debug"

  // released pinned-RDD ids → releasing call site; bounded so a
  // long-lived session's debug ledger cannot itself become a leak
  private val released =
    new java.util.LinkedHashMap[Int, String](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Int, String]): Boolean = size() > 65536
    }

  private def debugOn(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(DebugKey).contains("true")

  /** Debug-mode read guard: fails loudly if `df`'s plan reads a pin
    * that was already released (and whose blocks are really gone —
    * reliable-mode pins are file-backed and never trip this). Called
    * on every [[pin]] input under the debug conf; public so new
    * operators can guard their RETURNED frames too. */
  def guard(df: DataFrame, what: String = "frame"): DataFrame = {
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD =>
        val rec = released.synchronized(released.get(lr.rdd.id))
        if (rec != null &&
            lr.rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
          throw new IllegalStateException(
            s"graft pins debug: $what reads RELEASED pin rdd=${lr.rdd.id} " +
              s"(no lineage to recompute from — this would surface as a " +
              s"missing-block failure at action time); $rec")
      case _ => ()
    }
    df
  }

  /** `spark.graft.pins.preserveLayout` (default true): carry the
    * executed plan's output partitioning + per-partition ordering onto
    * the checkpoint leaf. The DATA layout always survives a checkpoint
    * (1:1 partition copy); under AQE the METADATA did not
    * (`AdaptiveSparkPlanExec` reports `UnknownPartitioning`, so
    * `LogicalRDD.fromDataset` dropped it), which made every iterative
    * operator re-Exchange (and re-sort) its pinned edge/label frames
    * once per pin segment — pure waste at any scale, and edge-table-
    * sized at 100 TB. Declaring the layout the checkpoint actually has
    * removes those exchanges; results are bit-identical (oracle-gated
    * registry-wide) because the declaration is read from the executed
    * plan, never assumed. Conf is the kill-switch for triage. */
  val PreserveLayoutKey = "spark.graft.pins.preserveLayout"

  /** The partition count the iterative operators lay their
    * loop-invariant frames out with: the session's shuffle-partition
    * setting — scale-adaptive by conf (local[n] benches run n, a
    * cluster runs its own 2-3x-cores value), never a constant. An
    * EXPLICIT count matters: `repartition(col)` without one is an AQE
    * coalesce candidate, and a coalesced layout (merged hash buckets)
    * no longer co-partitions against a fresh ENSURE_REQUIREMENTS
    * exchange — the per-iteration join would re-shuffle the big frame
    * every round, which is the exact waste [[pin]]'s layout
    * preservation exists to remove. */
  def layoutPartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Measured-size basis for [[pinBy]]'s partition count: bytes of
    * pinned storage per layout partition. 16 MB of deserialized rows
    * per partition reproduces the stage sizing AQE's coalescing picks
    * for the same frames locally (measured: the l4 edge frame runs its
    * per-iteration join at the same ~6-task width AQE chose for the
    * exchange-per-round plan), while a 100 TB edge table divides to
    * far more than any shuffle.partitions setting and takes the cap.
    * Why it matters: laying a ~50 MB frame out at local[32]'s 32
    * partitions ran every iteration stage 32-wide and CPU time TRIPLED
    * (memory-bandwidth contention on concurrent hash probes/aggs —
    * measured 213 s vs 66 s task-CPU on the same query), while 6 fat
    * partitions beat every other configuration. Conf-tunable; the cap
    * keeps the count cluster-shaped, the divisor keeps it data-shaped. */
  val TargetPartitionBytesKey = "spark.graft.pins.targetPartitionBytes"

  /** Lay `df` out for a loop: materialize once to MEASURE it, then
    * hash-partition by `cols` at a data-derived count (measured bytes /
    * [[TargetPartitionBytesKey]], capped at [[layoutPartitions]] — the
    * scale-adaptive rule, never a local constant), sort within
    * partitions by the same keys, and [[pin]]. The pinned leaf carries
    * partitioning + ordering, so every iteration's equi-join on `cols`
    * neither exchanges nor sorts this side again (sort once, join
    * many). Costs one extra setup materialization of `df`; buys
    * zero-exchange zero-sort joins for every round that follows. When
    * the size cannot be measured (reliable-mode pins), falls back to
    * the [[layoutPartitions]] cap. */
  def pinBy(df: DataFrame, cols: String*): DataFrame = {
    val (first, owned, n) = measure(df)
    // a frame that fits ONE layout partition gains nothing from a
    // dedicated layout pass: its measured-leaf stats already make every
    // join against it a broadcast/hash build, so the second exchange +
    // materialization would be pure overhead (measured: the small-edge
    // clusters/LPA consumers regressed 3-24% with an unconditional
    // second phase)
    if (n <= 1) first else layOut(first, owned, n, cols, identity)._1
  }

  /** [[pin]] with a FREE probe riding the materialization (r17): the
    * iterative operators' per-round convergence checks (changed-row
    * counts, below-k counts, label sums, normalizer totals) previously
    * paid a standalone action per round — a full plan+schedule+scan job
    * whose answer the pin pass already computed implicitly. Measured at
    * sf0.1/32c the probe jobs plus their driver-side planning were
    * 30-40% of the loop queries' wall clock (job-level profile:
    * l1_components wall 5.2 s vs 3.1 s inside jobs, 3-4 probe jobs per
    * round). This attaches the aggregates as `Dataset.observe`
    * metrics — a `CollectMetrics` node computed DURING the checkpoint's
    * one pass — and returns the metrics row alongside the pinned frame.
    *
    * `CollectMetrics` passes rows through unchanged and delegates
    * partitioning/ordering to its child, so the pinned data AND the
    * preserved layout are identical with or without the observation.
    * The row is read through [[observedRow]]: one that did not surface
    * throws, naming the observation. */
  def pinObserved(df: DataFrame, name: String, metrics: Column*)
      : (DataFrame, Row) = {
    val watched = df.observe(name, metrics.head, metrics.tail: _*)
    val pinned = pin(watched)
    (pinned, observedRow(watched, name))
  }

  /** [[pinBy]] with a post-layout transform FUSED into the layout
    * materialization (r17): `finish` runs between the layout
    * exchange+sort and the pin, so loop-invariant per-key values that
    * ride the laid frame (pageRank's `total_w`) attach in the SAME pass
    * — as a window over the already-clustered, already-sorted runs —
    * instead of costing a third full materialization (the r16 shape:
    * measure pin, layout pin, then `pin(laid.join(laid.groupBy(...)))`
    * to attach). Always lays out (no small-frame skip): the callers use
    * this exactly when a second materialization is mandatory anyway, so
    * fusing is a strict win at every size. Returns the laid pin and a
    * lookup of the `observe` metrics `finish` attached, read through
    * [[observedRow]]. */
  def pinByWith(df: DataFrame, cols: Seq[String],
                finish: DataFrame => DataFrame): (DataFrame, String => Row) = {
    val (first, owned, n) = measure(df)
    layOut(first, owned, n, cols, finish)
  }

  /** The measure step [[pinBy]] and [[pinByWith]] share: the first
    * materialization of `df`, whether this call owns it, and the layout
    * partition count its measured size asks for. An input that IS
    * already a pinned leaf (hits lays two copies of one pinned edge
    * list) is measured in place — skipping a full extra copy of the
    * frame (r16 verdict: at 100 TB that copy is an edge-table-sized
    * write); the caller owns that pin, so the layout must not release
    * it. */
  private def measure(df: DataFrame): (DataFrame, Boolean, Int) = {
    val (first, owned) = df.queryExecution.analyzed match {
      case lr: LogicalRDD
        if lr.rdd.getStorageLevel !=
          org.apache.spark.storage.StorageLevel.NONE => (df, false)
      case _ => (pin(df), true)
    }
    val target = df.sparkSession.conf
      .getOption(TargetPartitionBytesKey).map(_.toLong)
      .getOrElse(16L * 1024 * 1024)
    val cap = layoutPartitions(df)
    val n = measuredSize(first)
      .map(b => ((b + target - 1) / target).min(BigInt(cap)).max(BigInt(1)).toInt)
      .getOrElse(cap)
    (first, owned, n)
  }

  private def layOut(first: DataFrame, owned: Boolean, n: Int, cols: Seq[String],
                     finish: DataFrame => DataFrame): (DataFrame, String => Row) = {
    import org.apache.spark.sql.functions.col
    val finished = finish(first.repartition(n, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*))
    val laid = pin(finished)
    if (owned) release(first)
    (laid, observedRow(finished, _))
  }

  /** The row of the `Dataset.observe` metrics named `name` that `df`'s
    * execution computed. A row that did not surface throws an
    * `IllegalStateException` naming the observation and the call site
    * that asked for it: there is no second probe to fall back to.
    *
    * Place the observation at the pinned plan's top, or under row
    * filters and projections only: adaptive execution replaces a join
    * that has an empty side with an empty relation, and an observation
    * under that join leaves the executed plan with it (its metrics
    * never surface). */
  def observedRow(df: DataFrame, name: String): Row =
    df.queryExecution.observedMetrics.getOrElse(name,
      throw new IllegalStateException(
        s"observed metrics '$name' did not surface from its frame's " +
          s"execution (read at ${callSite()})"))

  /** A single-pin fixpoint loop. `start` is the seed pin with its
    * `witness` row (from [[pinObserved]], or a pin the caller already
    * holds with the row observed on its pass); the loop owns that pin
    * from here on. Each round pins `step(current)` with the `witness`
    * aggregates observed on its own pass and releases the superseded pin
    * only after its successor has materialized. Stops as soon as
    * `converged(previous witness row, this pin's row, round)` holds —
    * checked on the seed too, as round 0 with no previous row — and
    * returns the final pin (the caller owns it), its witness row and the
    * number of rounds stepped. A loop still unconverged after `maxIter`
    * rounds releases its last pin and throws an
    * `IllegalArgumentException` naming `name` and `maxIter`: never a
    * partial result. A bound that should end the loop silently belongs
    * in `converged`, which sees the round number. Observations are named
    * `name/1`, `name/2`, …; each pin is its own query, so the names
    * never meet in one plan. */
  def iterate(name: String, start: (DataFrame, Row), maxIter: Int, witness: Column*)
             (step: DataFrame => DataFrame)
             (converged: (Option[Row], Row, Int) => Boolean): (DataFrame, Row, Int) = {
    var (cur, row) = start
    var rounds = 0
    var done = converged(None, row, rounds)
    while (!done) {
      if (rounds >= maxIter) {
        release(cur)
        throw new IllegalArgumentException(
          s"$name did not converge within $maxIter rounds — raise maxIter")
      }
      rounds += 1
      val (next, nextRow) = pinObserved(step(cur), s"$name/$rounds", witness: _*)
      release(cur) // superseded: its successor has materialized
      done = converged(Some(row), nextRow, rounds)
      cur = next
      row = nextRow
    }
    (cur, row, rounds)
  }

  /** Eager constant-depth lineage pin in the session-selected mode. */
  def pin(df: DataFrame): DataFrame = {
    if (debugOn(df)) guard(df, "pin() input")
    val pinned =
      df.sparkSession.conf.getOption(ModeKey).getOrElse("local") match {
        case "local" => df.localCheckpoint()
        case "reliable" =>
          require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
            s"$ModeKey=reliable requires sparkContext.setCheckpointDir(...)")
          df.checkpoint()
        case other => throw new IllegalArgumentException(
          s"$ModeKey must be 'local' or 'reliable', got '$other'")
      }
    val preserve =
      !df.sparkSession.conf.getOption(PreserveLayoutKey).contains("false")
    if (preserve)
      org.apache.spark.sql.graft.ColumnBridge
        .withPreservedLayout(pinned, df, StatsCap, measuredSize(pinned))
        .getOrElse(capStats(pinned))
    else capStats(pinned)
  }

  /** The MEASURED byte size of an eagerly-pinned frame's storage
    * blocks (mem + disk), straight from the block-manager master, which
    * is complete once the pin's job has returned — the truth the planner
    * should size broadcast/hash-join decisions with, instead of the
    * origin plan's multiplied estimate. None for reliable-mode pins
    * (file-backed, not persisted) and anything that stored no bytes. */
  private def measuredSize(pinned: DataFrame): Option[BigInt] =
    pinned.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        Some(BigInt(org.apache.spark.graft.BlockBridge.rddBytes(
          pinned.sparkSession.sparkContext, lr.rdd.id))).filter(_ > 0)
      case _ => None
    }

  /** Checkpointing copies the ORIGIN plan's size estimate onto the new
    * [[LogicalRDD]] leaf (`LogicalRDD.fromDataset` → `rewriteStatistics`),
    * and Catalyst's size-only estimator multiplies join children — so in
    * an iterative operator each pin round re-multiplies the previous
    * pin's already-multiplied estimate and the leaf's `sizeInBytes`
    * BigInt DOUBLES IN DIGITS per round (measured: 6 → 1310 digits in 8
    * rounds of a pinned self-join). Past ~20 rounds the driver melts
    * doing million-digit Toom-Cook multiplications inside stats
    * estimation — a pure planning pathology; the data itself is tiny.
    * Fix: cap the pinned leaf's estimate at Long.MaxValue (Spark's own
    * `defaultSizeInBytes` saturation value). Every size-based planner
    * decision is unchanged — estimates below the cap keep their exact
    * origin value, and values above it are all equally "far too big to
    * broadcast" — but products of capped leaves stay small-digit, so
    * stats stay O(1) per round. Constraints, rowCount and
    * attributeStats are preserved verbatim. The LogicalRDD rebuild is
    * an internal-API touchpoint and lives with the others in
    * [[org.apache.spark.sql.graft.ColumnBridge.withCappedLeafStats]]
    * (one file to audit per Spark upgrade — r14 advice). */
  private val StatsCap = BigInt(Long.MaxValue)

  private def capStats(pinned: DataFrame): DataFrame =
    org.apache.spark.sql.graft.ColumnBridge
      .withCappedLeafStats(pinned, StatsCap).getOrElse(pinned)

  /** Release a DEAD pin's storage blocks (blocking=false; null-safe so
    * loop-carried "previous pin" slots start at null). A pinned frame's
    * plan is a [[LogicalRDD]] leaf over the persisted RDD — unpersist
    * that RDD directly (the Dataset-level unpersist only consults the
    * cache manager, which knows nothing about checkpoint pins). For
    * reliable-mode pins the RDD is file-backed and not persisted, so
    * this is a harmless no-op. Under [[DebugKey]] each actually-persisted
    * released id is recorded with its call site so [[guard]] can name
    * the bug at the misuse site. */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach { df =>
      if (df != null) {
        val debug = debugOn(df)
        df.queryExecution.analyzed.collectLeaves().foreach {
          case lr: LogicalRDD =>
            if (debug &&
                lr.rdd.getStorageLevel !=
                  org.apache.spark.storage.StorageLevel.NONE)
              released.synchronized {
                released.put(lr.rdd.id, s"released at ${callSite()}")
              }
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
      }
    }

  /** The first stack frame outside this object and the Scala library
    * (whose collection frames sit between a caller's closure and us):
    * the operator or pipeline that called in. */
  private def callSite(): String =
    Thread.currentThread().getStackTrace.iterator.drop(1)
      .find(e => !e.getClassName.startsWith("graft.operators.Pins") &&
        !e.getClassName.startsWith("scala."))
      .map(_.toString).getOrElse("(unknown site)")
}
