package graft

import org.apache.spark.sql.SparkSession

/** One-stop session factory for graft deployments, and the one place in
  * `src/main/scala` that calls `SparkSession.builder()`.
  *
  * `GraftSession.builder()` returns a pre-configured
  * `SparkSession.Builder` with the graft SQL surface installed and the
  * engine settings every operator here assumes. It sets exactly:
  *
  *  - `spark.sql.extensions` = `graft.GraftExtensions`: the graft SQL
  *    functions (`word_shingles`, `simhash64`, `vector_dot`,
  *    `l2_normalize`, …) and the TopKPerKey planner strategy, so plain
  *    SQL users get them too;
  *  - `spark.sql.adaptive.enabled` and
  *    `spark.sql.adaptive.skewJoin.enabled` on — detected hot keys
  *    re-plan at runtime (`Skew.saltedJoin` stays for a-priori hot
  *    keys); partial aggregation and broadcast thresholds stay at Spark
  *    defaults (operators choose `broadcast()` explicitly where a side
  *    is known-small);
  *  - `spark.sql.session.timeZone` = UTC — every day/month key
  *    derivation in the stage layer is calendar-dependent, and a
  *    cluster-local timezone silently shifts bucket boundaries between
  *    clusters;
  *  - `spark.graft.rewriteTopK` on (see the call);
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]].
  *
  * Callers still pick master/app-name/shuffle-partition count — those
  * are cluster-shaped, not engine-shaped. For 1000-executor targets set
  * `spark.sql.shuffle.partitions` to 2-3x total cores and let AQE
  * coalesce down. perfbench builds its session from `builder()`.
  *
  * `GraftSession.local(cores)` is the session of every tool main —
  * `graft.Bench`, `graft.Verify`, `graft.Fuzz`, `graft.ScaleProbe` and
  * `graft.Main` — so the correctness and fuzz gates test the session a
  * user gets. On top of `builder()` it sets `local[cores]`, `cores`
  * shuffle partitions, the UI off, the status-store retention caps
  * (see the call) and log level WARN. The mains pass [[cpus]].
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for every graft session: the
    * smallest size tried (128, 160, 192, 224, 256, …, 4096) at which
    * every warehouse round compiled exactly what it compiled with 4096
    * entries — only the classes its literals make new. At 192 a steady
    * round still recompiled about 70 evicted classes, at 224 one. The
    * held classes cost about 3.6 MB of live heap (the benchmark's
    * `warehouse_cycles` `heap_live_mb`: 79.0 → 82.6 MB). The setting is
    * STATIC and JVM-wide: Spark sizes its code cache once, when the
    * first query of the JVM compiles, so the first session in a JVM
    * fixes it and later sessions' values are ignored. */
  val CodegenCacheEntries = 256

  /** Cores of the tool mains' session: `SPARK_GRAFT_CPUS`, else the
    * host's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // row_number/rank window-filter queries plan the bounded-heap
      // TopKPerKey instead of Exchange→full-group-sort→Window. The
      // rewrite is oracle-gated (the whole query suite hash-matches
      // DuckDB with it on — Verify runs through this preset), so a graft
      // deployment gets the heap shape for plain SQL too; set it to
      // false to fall back to Spark's stock window plan
      .config("spark.graft.rewriteTopK", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** The tool mains' session: `local[cores]`, `cores` shuffle
    * partitions, UI off, log level WARN. */
  def local(cores: Int): SparkSession = {
    val spark = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // the app/SQL status stores are live even with the UI disabled
      // (they feed the REST/history surface) and default to retaining
      // 1000 executions / 100k tasks of metrics — across a ~1100-
      // execution bench suite that is real driver-heap ballast on the
      // 8g fork; a tool run keeps only a handful for post-mortem
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
