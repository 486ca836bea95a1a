package graft

import org.apache.spark.sql.SparkSession

/** Golden plan-shape fingerprints (r12 verdict next-round #6).
  *
  * [[graft.PlanSpec]]-style shape assertions are written ONCE, at the
  * operator's write time; nothing catches a Spark upgrade or a refactor
  * silently adding an exchange to an already-shipped query. This module
  * fingerprints the executed plan of the top bench operators into a
  * committed `PLANS_r{N}.json`, and `PlanSnapshotSpec` compares the
  * live fingerprints against the last committed snapshot on every
  * `sbt test` — a plan regression fails at spec time with a diff of
  * operator counts, and an INTENTIONAL change is recorded by adding the
  * query to the spec's allowlist for one round and committing the
  * regenerated snapshot (workflow documented in README).
  *
  * Fingerprints count physical-operator classes, not exact plan text,
  * so cosmetic changes (expression ids, stats) never trip it — only
  * structure: scans, exchanges (hash/range/single, broadcast, reused),
  * sorts, windows, join strategies, codegen span count, and the native
  * TopKPerKey operator. Counts are taken AFTER execution so AQE's
  * final plan (runtime join selection, coalesced stages) is what's
  * snapshotted — the plan that actually ran, at the spec session's
  * fixed config and SF (comparability across rounds requires both to
  * be held fixed, which TestSession does). */
object PlanSnap {

  /** Snapshot set (r14 verdict #7: 62 → the ENTIRE registry): every
    * key in [[SparkEntry.queries]], sorted — plan drift ANYWHERE in the
    * inventory (a Spark upgrade flipping a join strategy in a
    * never-top-30 query, a refactor adding an exchange to a mirror's
    * TVF lowering) now fails at spec time, not at the next bench
    * regression. The fingerprint struct is counts-only, so the cost is
    * one sf0.001 execution per query inside PlanSnapshotSpec (~6 min —
    * accepted; the r13 top-30 subset missed everything it didn't
    * cover by construction). */
  lazy val snapQueries: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Operator-class counters. Sort excludes SortMergeJoin/SortAggregate
    * mentions; Window catches both the window exec and group-limit. */
  private val patterns: Seq[(String, scala.util.matching.Regex)] = Seq(
    "scans" -> "FileScan parquet|BatchScan".r,
    "exchanges_hash" -> "(?<!Reused)Exchange hashpartitioning".r,
    "exchanges_range" -> "(?<!Reused)Exchange rangepartitioning".r,
    "exchanges_single" -> "(?<!Reused)Exchange SinglePartition".r,
    "broadcast_exchanges" -> "(?<!Reused)BroadcastExchange".r,
    "reused_exchanges" -> "ReusedExchange".r,
    "sorts" -> "(?<!Merge)Sort \\[".r,
    "windows" -> "\\bWindow \\[|WindowGroupLimit".r,
    "smj" -> "SortMergeJoin".r,
    "bhj" -> "BroadcastHashJoin".r,
    "shj" -> "ShuffledHashJoin".r,
    "bnlj" -> "BroadcastNestedLoopJoin".r,
    "cartesian" -> "CartesianProduct".r,
    "topk_native" -> "TopKPerKey".r)

  def fingerprint(plan: String): Map[String, Int] = {
    val counts = patterns.map { case (k, re) => k -> re.findAllIn(plan).size }
    // codegen prints as `*(n)` stage markers in the executed-plan tree;
    // distinct ids = whole-stage span count (the wider, the better)
    val spans = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
      .map(_.group(1)).toSet.size
    (counts :+ ("codegen_spans" -> spans)).toMap
  }

  /** Execute and fingerprint one inventory query — summed over EVERY
    * SQL execution the query triggers, not just the final frame's: the
    * iterative graph operators `localCheckpoint` intermediates, so the
    * final executedPlan alone is a stub that reads checkpointed RDDs
    * (an all-zero fingerprint, observed on l1/l4/l5/h28/e6). Each
    * checkpoint materialization fires the QueryExecutionListener with
    * its segment's executed plan; the sum is the operator census of
    * the whole lifecycle — which is exactly what catches "a refactor
    * added an exchange per iteration". */
  def fingerprintOf(spark: SparkSession, name: String,
                    sfDir: String): Map[String, Int] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      // listener events ride the async bus — drain before reading
      org.apache.spark.graft.ListenerBridge
        .waitUntilListenersProcessed(spark.sparkContext)
      val all = scala.jdk.CollectionConverters.CollectionHasAsScala(plans)
        .asScala.toSeq
      all.map(fingerprint).foldLeft(Map.empty[String, Int]) { (acc, fp) =>
        (acc.keySet ++ fp.keySet).map(k =>
          k -> (acc.getOrElse(k, 0) + fp.getOrElse(k, 0))).toMap
      } + ("executions" -> all.size)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Stable one-line-per-query JSON (hand-parseable by the spec). */
  def toJson(fps: Seq[(String, Map[String, Int])]): String =
    fps.map { case (q, fp) =>
      val inner = fp.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""  "$q": {$inner}"""
    }.mkString("{\n", ",\n", "\n}\n")

  def parseJson(s: String): Map[String, Map[String, Int]] = {
    val entry = """"([\w]+)":\s*\{([^}]*)\}""".r
    val kv = """"([\w]+)":\s*(\d+)""".r
    entry.findAllMatchIn(s).map { m =>
      m.group(1) ->
        kv.findAllMatchIn(m.group(2))
          .map(x => x.group(1) -> x.group(2).toInt).toMap
    }.toMap
  }
}
