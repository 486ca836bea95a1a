package graft

import org.apache.spark.sql.SparkSession

/** One-stop session factory for graft deployments.
  *
  * `GraftSession.builder()` returns a pre-configured
  * `SparkSession.Builder` with the graft SQL surface installed and the
  * engine settings every operator here assumes:
  *
  *  - AQE on with skew-join splitting — detected hot keys re-plan at
  *    runtime (`Skew.saltedJoin` stays for a-priori hot keys);
  *  - partial aggregation + broadcast thresholds left at Spark
  *    defaults (operators choose `broadcast()` explicitly where a side
  *    is known-small);
  *  - UTC session timezone — every day/month key derivation in the
  *    stage layer is calendar-dependent, and a cluster-local timezone
  *    silently shifts bucket boundaries between clusters;
  *  - the graft extensions (`word_shingles`, `simhash64`, `vector_dot`,
  *    `l2_normalize`, and the TopKPerKey planner strategy) registered
  *    via `spark.sql.extensions` so plain SQL users get them too;
  *  - `spark.graft.rewriteTopK` ON: window-spelled top-k-per-group
  *    queries plan the bounded-heap operator (oracle-verified across
  *    the whole suite), opt-out per session;
  *  - a generated-code cache ([[CodegenCacheEntries]] entries) that holds
  *    one warehouse round's classes, so a long-lived session's next
  *    round reuses them instead of recompiling what Spark's 100-entry
  *    default evicted. The setting is STATIC and JVM-wide: Spark sizes
  *    its code cache once, when the first query of the JVM compiles,
  *    so the first session in a JVM fixes it and later sessions'
  *    values are ignored.
  *
  * Callers still pick master/app-name/shuffle-partition count — those
  * are cluster-shaped, not engine-shaped. For 1000-executor targets set
  * `spark.sql.shuffle.partitions` to 2-3x total cores and let AQE
  * coalesce down.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for every graft session: the
    * smallest size tried (128, 160, 192, 224, 256, …, 4096) at which
    * every warehouse round compiled exactly what it compiled with 4096
    * entries — only the classes its literals make new. At 192 a steady
    * round still recompiled about 70 evicted classes, at 224 one. The
    * held classes cost about 3.6 MB of live heap (the benchmark's
    * `warehouse_cycles` `heap_live_mb`: 79.0 → 82.6 MB). */
  val CodegenCacheEntries = 256

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // row_number/rank window-filter queries plan the bounded-heap
      // TopKPerKey instead of Exchange→full-group-sort→Window. The
      // rewrite is oracle-gated (the whole query suite hash-matches
      // DuckDB with it on — Bench runs it on every round), so a graft
      // deployment gets the heap shape for plain SQL too; set it to
      // false to fall back to Spark's stock window plan
      .config("spark.graft.rewriteTopK", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Local session for tests/examples: `local[n]`, n shuffle
    * partitions. */
  def local(cores: Int): SparkSession =
    builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
