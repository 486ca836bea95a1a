package graft.perfbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry
import graft.pipelines.{CorpusPipeline, IotBatchPipeline}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `warehouse_cycles`: the two incremental master DAGs, alternated
  * against a fresh warehouse. One loop turn is one round: the generator
  * lands an IoT increment and [[IotBatchPipeline.runCycles]] refreshes
  * stage and the daily, weekly and monthly rollups; then it lands a
  * corpus slice and [[CorpusPipeline.runCycle]] ingests it.
  *
  * The seed sets how many hours each IoT increment covers and which
  * earlier documents each corpus slice re-delivers, and what share. */
final class WarehouseCycles(o: Main.Opts) extends Workload {
  private val rng = Main.rng(o.seed)
  /** Hours per IoT increment, drawn per increment from this range. The
    * increments are small because a cycle's time is mostly its fixed
    * job count: halving them and the corpus slices (from 18-30 hours and
    * 200 documents) moved the cycles by less than 10%. */
  val hoursRange: (Int, Int) = (8, 16)
  /** New documents per corpus slice. */
  val docsPerSlice = 100
  /** Share of each slice re-delivered from earlier slices. */
  val redeliverShare: Double = 0.05 + 0.2 * rng.nextDouble()
  private val hours = Seq.fill(40)(hoursRange._1 + rng.nextInt(hoursRange._2 - hoursRange._1 + 1))
  private val root = new File(o.work, "warehouse").getAbsolutePath
  private var events: DataFrame = _
  private var docs: DataFrame = _

  private val t0Micros = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L

  def setup(spark: SparkSession): Unit = {
    Main.deleteTree(new File(root))
    new File(root).mkdirs()
    events = Tables.events(spark, o.data)
    docs = Tables.documents(spark, o.data).select("doc_id", "text", "lang", "source")
  }

  private final class Warehouse(dir: String) {
    val landing = s"$dir/landing"
    val stage = s"$dir/stage"
    val cadences = Seq(
      IotBatchPipeline.dailyCadence(s"$dir/agg_daily"),
      IotBatchPipeline.weeklyCadence(s"$dir/agg_weekly"),
      IotBatchPipeline.monthlyCadence(s"$dir/agg_monthly"))
    val corpus = s"$dir/corpus"
    val index = s"$dir/corpus_index"
    var iotCycle = 0
    var hourCursor = 0L
    var corpusCycle = 0
    var docCursor = 0L
    val landedDocs = mutable.ArrayBuffer[Long]()
    val corpusLandings = mutable.ArrayBuffer[Map[String, Any]]()
    val increments = mutable.ArrayBuffer[Map[String, Any]]()
  }

  private var wh: Warehouse = _

  /** One round. The first incremental round is still warming its paths
    * up; over ten seeds its time spread by 8% (quartile distance over
    * median) against 17% for the round after it, and the mean of both
    * spread by 9%, so a second round costs 11 s and steadies nothing. */
  override def minSteps: Int = 1

  /** Every event's timestamp, for the events count of each increment. */
  private lazy val tsMicros: Array[Long] =
    events.select(unix_micros(col("ts"))).collect().map(_.getLong(0))

  /** Lands the next IoT increment and runs one IoT cycle. */
  private def iotCycle(spark: SparkSession, w: Warehouse, loop: Loop,
                       traced: Boolean): Map[String, Any] = {
    val h = hours(w.iotCycle % hours.size)
    val lo = t0Micros + w.hourCursor * 3600L * 1000000L
    val hi = lo + h * 3600L * 1000000L
    w.hourCursor += h
    val incDir = s"${w.landing}/increment=${w.iotCycle}"
    events.filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
      .coalesce(1).write.parquet(incDir)
    val incBytes = dataBytes(new File(incDir))
    val n = tsMicros.count(t => t >= lo && t < hi)
    w.increments += Map("dir" -> incDir, "events" -> n, "hours" -> h)
    w.iotCycle += 1
    val raw = spark.read.parquet(w.landing).drop("increment")
    val before = if (traced) dataFiles(w) else Set.empty[String]
    loop.op("iot", s"iot_cycle_${w.iotCycle}", traced) { op =>
      op.layer("pipelines.IotBatchPipeline.runCycles") {
        IotBatchPipeline.runCycles(raw, w.stage, w.cadences)
      }
      Map("events" -> n, "hours" -> h, "increment_bytes" -> incBytes) ++
        (if (traced) Map("sources.Warehouse.files_written" -> (dataFiles(w) -- before).size)
         else Map.empty)
    }
  }

  /** Lands the next corpus slice (new documents plus a seeded share of
    * re-delivered earlier ones) and runs one corpus cycle. */
  private def corpusCycle(spark: SparkSession, w: Warehouse, loop: Loop,
                          traced: Boolean): Map[String, Any] = {
    val fresh = (w.docCursor until w.docCursor + docsPerSlice).toSeq
    val nRe = math.round(docsPerSlice * redeliverShare).toInt
    val re = rng.shuffle(w.landedDocs.toSeq).take(nRe)
    w.docCursor += docsPerSlice
    w.landedDocs ++= fresh
    val ids = fresh ++ re
    val dir = s"${w.corpus}_landing/cycle=${w.corpusCycle}"
    docs.filter(col("doc_id").isin(ids: _*)).coalesce(1).write.parquet(dir)
    w.corpusCycle += 1
    val landing = spark.read.parquet(dir)
    val before = if (traced) dataFiles(w) else Set.empty[String]
    val rec = loop.op("corpus", s"corpus_cycle_${w.corpusCycle}", traced) { op =>
      val st = op.layer("pipelines.CorpusPipeline.runCycle") {
        CorpusPipeline.runCycle(landing, w.corpus, w.index)
      }
      Map("landing" -> st.nLanding, "new" -> st.nNew,
        "reject_quality" -> st.nRejectedQuality,
        "reject_exact" -> st.nRejectedExact,
        "reject_near" -> st.nRejectedNearDup, "accepted" -> st.nAccepted,
        "corpus_size" -> st.corpusSize, "redelivered" -> re.size) ++
        (if (traced) Map("sources.Warehouse.files_written" -> (dataFiles(w) -- before).size)
         else Map.empty)
    }
    w.corpusLandings += (rec + ("dir" -> dir))
    rec
  }

  private def dataFiles(w: Warehouse): Set[String] = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
    Seq(w.stage, w.corpus, w.index).map(new File(_)).flatMap(walk).toSet ++
      w.cadences.map(c => new File(c.aggPath)).flatMap(walk)
  }

  private def dataBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dataBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  /** The first round of a fresh warehouse is its initial load, which
    * takes other paths (no watermark, no archive to probe). The warm-up
    * runs it, so every timed round is incremental. */
  def warmUp(spark: SparkSession, loop: Loop): Unit = {
    wh = new Warehouse(s"$root/run")
    iotCycle(spark, wh, loop, traced = false)
    corpusCycle(spark, wh, loop, traced = false)
  }

  def step(spark: SparkSession, loop: Loop, traced: Boolean): Unit = {
    iotCycle(spark, wh, loop, traced)
    corpusCycle(spark, wh, loop, traced)
  }

  override def outputs: Map[String, Any] = Map("warehouse" -> Map(
    "stage" -> wh.stage,
    "agg" -> wh.cadences.map(c => c.partitionCols.head -> c.aggPath).toMap,
    "corpus" -> wh.corpus,
    "increments" -> wh.increments.toSeq,
    "corpus_cycles" -> wh.corpusLandings.toSeq))
}

/** `adhoc_queries` and `graph_loops`: a fixed basket of registry
  * queries, each built through [[SparkEntry.queries]] and noop-written,
  * one pass over the basket per loop turn, each pass in a fresh seeded
  * order.
  *
  * The iterative family is every `l*` query plus `e6`, `e8`, `h28`, `k5`
  * and their SQL twins: everything that reaches the graph loops or
  * `Dedup.clusters`. `adhoc_queries` draws its basket from the rest,
  * `graph_loops` from the iterative family (see [[QueryLoop.baskets]]).
  * The warm-up pass writes each query's rows to parquet, which the
  * correctness check compares with the DuckDB oracle. */
final class QueryLoop(o: Main.Opts, iterative: Boolean) extends Workload {
  private val rng = Main.rng(o.seed)
  val basket: Seq[String] = QueryLoop.baskets(iterative)
  private val outDir = new File(o.work, "query_out").getAbsolutePath
  private val written = mutable.LinkedHashMap[String, String]()

  def setup(spark: SparkSession): Unit =
    Tables.all.foreach(t => Tables.load(spark, o.data, t).schema)

  /** One pass that writes each query's rows for the correctness check. */
  def warmUp(spark: SparkSession, loop: Loop): Unit =
    rng.shuffle(basket).foreach { q =>
      val path = s"$outDir/$q"
      val r = loop.op("query", q, traced = false) { _ =>
        SparkEntry.queries(q)(spark, o.data).write.mode("overwrite").parquet(path)
        Map.empty
      }
      written(q) = if (r("ok") == true) path else ""
    }

  private def run(spark: SparkSession, loop: Loop, q: String, traced: Boolean): Unit =
    loop.op("query", q, traced) { op =>
      val df = op.layer("SparkEntry.build") { SparkEntry.queries(q)(spark, o.data) }
      if (op.traced) op.layer("catalyst.plan") { df.queryExecution.executedPlan }
      op.layer("exec.run") { df.write.format("noop").mode("overwrite").save() }
      Map.empty
    }

  def step(spark: SparkSession, loop: Loop, traced: Boolean): Unit =
    rng.shuffle(basket).foreach(run(spark, loop, _, traced))

  override def outputs: Map[String, Any] = Map(
    "sample" -> basket,
    "query_outputs" -> written.toMap,
    "oracle_sql" -> basket.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
}

object QueryLoop {
  private val iterativeNames = Set("e6", "e8", "h28", "k5")

  /** Family: the letter prefix of the query id (`dq`, `b`, `l`, ...). */
  def family(q: String): String = q.takeWhile(_.isLetter)

  /** The id without family and twin marker: `l1s_components_sql` -> `l1`. */
  private def base(q: String): String = q.takeWhile(_ != '_').stripSuffix("s")

  def isIterative(q: String): Boolean =
    family(q) == "l" || iterativeNames.contains(base(q))

  /** The baskets, fixed so that every seed runs the same work and only
    * the order changes: a per-seed draw from families whose queries span
    * 0.1-6 s moved the per-run median by 10-20% from seed to seed.
    * `adhoc_queries` takes one query from each of the four largest
    * families, at evenly spaced ranks of warm run time within the family
    * (sf0.1, `local[4]`); `graph_loops` the k-core peel, a multi-round
    * `Graphs` loop on the `Pins` loop driver, and SCC, whose small-graph
    * path finishes in one task: the few iterative queries that fit a
    * run's time. */
  val baskets: Map[Boolean, Seq[String]] = Map(
    false -> Seq("b39_seasonal", "c17_growth", "d12_small_qty_revenue", "h18_bpe_train"),
    true -> Seq("l6_kcore", "l13_scc"))

  require(baskets.forall { case (it, qs) => qs.forall(isIterative(_) == it) })
}
