package graft.perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** The benchmark harness: one closed-loop client driving one workload
  * against the engine's public entry points.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --cores N --out FILE
  *
  * Writes one JSON document to --out: the set-up times, one record per
  * timed operation, the correctness inputs and (traced) the spans.
  * `perfbench/run.py` turns it into the benchmark's metrics.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        cores: Int, out: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("cores").toInt, m("out"))
  }

  /** The session every run uses: the engine's own session factory,
    * `local[cores]` with one shuffle partition per core. */
  def session(o: Opts): SparkSession =
    GraftSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()

  /** The workload's random source. The seed is mixed first: seeded
    * directly, `java.util.Random` gives adjacent seeds nearly the same
    * first draws (seeds 101-110 all drew a re-delivery share of 0.194). */
  def rng(seed: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())

  /** Set-up repetitions per run. The first also pays JVM start and class
    * loading; the reported figure is the median of the others. */
  val setups = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload: Workload = o.workload match {
      case "warehouse_cycles" => new WarehouseCycles(o)
      case "adhoc_queries" => new QueryLoop(o, iterative = false)
      case "graph_loops" => new QueryLoop(o, iterative = true)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> o.cores, "seconds" -> o.seconds)

    // set-up: a fresh session plus the workload's own preparation
    var spark: SparkSession = null
    val setupS = (1 to setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o)
      workload.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("ERROR")
    rec("setup_s") = setupS

    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val warm = new Loop(spark, "warmup", None)
    phase("warmup")(workload.warmUp(spark, warm))
    rec("warmup_ops") = warm.records.map(r => Map("name" -> r("name"), "wall_s" -> r("wall_s")))

    val runId = s"${o.workload}-${o.seed}-${System.currentTimeMillis()}"
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val loop = new Loop(spark, runId, tracer)
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    // a traced run times two steps at least, so that the order of its
    // traced and untraced halves evens out within the run
    val minSteps = if (o.trace) math.max(workload.minSteps, 2) else workload.minSteps
    var i = 0
    phase("loop") {
      while (i < minSteps || System.nanoTime() < deadline) {
        // a traced run repeats each step untraced, alternating which goes
        // first from step to step and seed to seed; the difference is the
        // tracing overhead
        val order =
          if (!o.trace) Seq(false)
          else if ((i + o.seed) % 2 == 0) Seq(true, false)
          else Seq(false, true)
        order.foreach { traced =>
          workload.step(spark, loop, traced)
          loop.step += 1
        }
        i += 1
      }
      tracer.foreach(_.detach())
    }
    rec("heap_live_mb") = liveHeapMb()
    rec("ops") = loop.records.toSeq
    rec("spans") = loop.spans.map(_.toJson).toSeq
    rec ++= workload.outputs
    phase("stop")(spark.stop())
    rec("phases") = phases.toMap
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(o.out), rec.toMap)
  }

  /** The heap the session and the workload keep once the timed loop is
    * over and its pins are released: full collections, untimed, until the
    * heap stops shrinking. Spark's cleaner frees the blocks of collected
    * frames on its own thread after the collection that found them, so
    * a single collection read 120 or 174 MB from run to run. */
  def liveHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); heap.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var cur = collect()
    var rounds = 1
    while (prev - cur > (1L << 20) && rounds < 6) {
      Thread.sleep(300)
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur / 1048576.0
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** One workload: set-up, an untimed warm-up and timed steps (a round of
  * cycles, a pass over a query basket) until the run's seconds are up;
  * `outputs` tells the correctness check where the results are. */
trait Workload {
  /** Timed steps per run at least. On the query workloads the host's
    * speed wanders by 10-20% within seconds, and the median of two passes
    * halved the run-to-run spread of one. */
  def minSteps: Int = 2
  def setup(spark: SparkSession): Unit
  def warmUp(spark: SparkSession, loop: Loop): Unit
  def step(spark: SparkSession, loop: Loop, traced: Boolean): Unit
  def outputs: Map[String, Any] = Map.empty
}

/** Times operations and, when tracing, records their spans and what the
  * listeners saw. Between operations it releases pinned and cached
  * frames (untimed), after counting the persistent RDDs still alive. */
final class Loop(spark: SparkSession, runId: String, tracer: Option[Tracer]) {
  val records = mutable.ArrayBuffer[Map[String, Any]]()
  val spans = mutable.ArrayBuffer[Span]()
  private var opSeq = 0
  /** The loop turn the next operations belong to. */
  var step = 0

  final class Op(val id: String, val traced: Boolean) {
    val layers = mutable.LinkedHashMap[String, Double]()
    val layerSpans = mutable.ArrayBuffer[Span]()

    /** Times one call into a layer's public function. */
    def layer[A](name: String)(f: => A): A = {
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = f
      val d = (System.nanoTime() - t0) / 1e9
      layers(name) = layers.getOrElse(name, 0.0) + d
      if (traced) layerSpans += Span(runId, s"$id/${layerSpans.size}", id,
        name, ms0, System.currentTimeMillis())
      r
    }
  }

  /** Runs one operation; `body` makes the layer calls and returns extra
    * fields for the record. Failures are recorded, never rethrown. */
  def op(kind: String, name: String, traced: Boolean)(
      body: Op => Map[String, Any]): Map[String, Any] = {
    opSeq += 1
    val o = new Op(s"$runId/$opSeq", traced && tracer.isDefined)
    val cap = if (o.traced) {
      tracer.get.attach()
      Some(tracer.get.open(o.id))
    } else {
      tracer.foreach(_.detach())
      None
    }
    val gc0 = Loop.gcMs()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (extra, error) =
      try (body(o), "")
      catch { case e: Throwable => (Map.empty[String, Any], s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val gcS = (Loop.gcMs() - gc0) / 1e3
    val closed = cap.map(_ => tracer.get.close())
    val liveRdds = spark.sparkContext.getPersistentRDDs.size
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> o.id, "step" -> step, "kind" -> kind, "name" -> name, "wall_s" -> wall,
      "ok" -> error.isEmpty, "error" -> error, "traced" -> o.traced,
      "layers" -> o.layers.toMap, "jvm.gc_s" -> gcS,
      "operators.Pins.live_rdds_after" -> liveRdds) ++ extra
    closed.foreach(c => rec ++= traceFields(o, c, ms0, ms1, wall))
    release()
    records += rec.toMap
    rec.toMap
  }

  private def traceFields(o: Op, c: OpCapture, ms0: Long, ms1: Long,
                          wall: Double): Map[String, Any] = {
    val mine = c.jobs.filter(_.group == o.id).toSeq
    val iv = mine.map(j => (j.startMs, if (j.endMs < 0) ms1 else j.endMs))
    val busyMs = Tracer.unionMs(iv, ms0, ms1)
    // every job the listener saw while the op was open, whatever its
    // group, each over its whole interval: the cross-check of the split
    // into busy time and driver gap
    val busyAllMs = Tracer.unionMs(
      c.jobs.map(j => (j.startMs, if (j.endMs < 0) ms1 else j.endMs)).toSeq,
      Long.MinValue, Long.MaxValue)
    val wallMs = math.max(1L, ms1 - ms0)
    val gapMs = wallMs - busyMs
    val cores = spark.sparkContext.defaultParallelism
    // jobs started inside each layer call, e.g. schema inference while
    // the registry builds a query's frame
    val layerJobs = o.layerSpans.map { s =>
      s.name -> mine.count(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
    }.toMap
    val callsites = mine.groupBy(_.callsite).map { case (f, js) =>
      (if (f.isEmpty) "unattributed" else f) -> Map(
        "jobs" -> js.size,
        "job_busy_s" -> Tracer.unionMs(
          js.map(j => (j.startMs, if (j.endMs < 0) ms1 else j.endMs)), ms0, ms1) / 1e3)
    }
    // each job's parent: the layer call it started in, else the op
    val jobSpans = mine.map { j =>
      val parent = o.layerSpans.find(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
        .map(_.id).getOrElse(o.id)
      Span(runId, s"${o.id}/job${j.id}", parent, "job", j.startMs,
        if (j.endMs < 0) ms1 else j.endMs,
        Map("stages" -> j.stages.size, "callsite" -> j.callsite))
    }
    // a span's self time: its interval minus the part its child spans
    // (layer calls, Spark jobs) cover
    def withSelf(s: Span): Span = {
      val kids = (o.layerSpans ++ jobSpans).filter(_.parent == s.id)
        .map(k => (k.startMs, k.endMs))
      s.copy(attrs = s.attrs + ("self_ms" ->
        (s.endMs - s.startMs - Tracer.unionMs(kids.toSeq, s.startMs, s.endMs))))
    }
    spans ++= o.layerSpans.map(withSelf)
    spans += withSelf(Span(runId, o.id, "", "op", ms0, ms1))
    spans ++= jobSpans
    Map(
      "wall_ms" -> wallMs,
      "exec.jobs" -> mine.size, "exec.stages" -> c.stagesDone,
      "exec.tasks" -> c.tasks,
      "exec.job_busy_s" -> busyMs / 1e3,
      "exec.job_busy_unclipped_s" -> busyAllMs / 1e3,
      "driver.gap_s" -> gapMs / 1e3,
      "exec.task_run_s" -> c.taskRunMs / 1e3,
      "exec.task_cpu_s" -> c.taskCpuNs / 1e9,
      "exec.core_util" -> (if (busyMs > 0) c.taskRunMs.toDouble / (busyMs * cores) else 0.0),
      "exec.shuffle_write_bytes" -> c.shuffleWrite,
      "exec.shuffle_read_bytes" -> c.shuffleRead,
      "exec.spill_bytes" -> c.spill,
      "exec.input_bytes" -> c.input,
      "exec.output_bytes" -> c.output,
      "plans.executions" -> c.executions,
      "operators.Pins.pinned_peak_bytes" -> c.pinnedPeak,
      "layer_jobs" -> layerJobs,
      "callsite" -> callsites) ++
      Census.keys.map(k => s"plans.$k" -> c.census(k))
  }

  /** Releases every pinned RDD and cached frame, as a fresh caller would
    * find the session. */
  def release(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Loop {
  private val gcBeans = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  }
  def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
}
