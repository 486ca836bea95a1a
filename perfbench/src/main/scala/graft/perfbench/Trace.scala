package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A span: one timed interval, its parent and the run it belongs to.
  * Times are epoch milliseconds on the driver clock, the clock the
  * Spark scheduler stamps job events with. */
final case class Span(run: String, id: String, parent: String, name: String,
                      startMs: Long, endMs: Long,
                      attrs: Map[String, Any] = Map.empty) {
  def toJson: Map[String, Any] = Map("run" -> run, "id" -> id,
    "parent" -> parent, "name" -> name, "start_ms" -> startMs,
    "end_ms" -> endMs) ++ attrs
}

/** Operator census of an executed physical plan, walking into adaptive
  * query stages so the counts describe the plan that actually ran. */
object Census extends AdaptiveSparkPlanHelper {
  val keys: Seq[String] = Seq("exchanges", "sorts", "smj", "bhj", "topk_exec")

  def of(plan: SparkPlan): Map[String, Int] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "sorts" -> nodes.count(_.isInstanceOf[SortExec]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "bhj" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "topk_exec" -> nodes.count(_.getClass.getSimpleName.startsWith("TopKPerKey")))
  }
}

/** One Spark job as the listener saw it. */
final case class Job(id: Int, group: String, startMs: Long, var endMs: Long,
                     stages: Seq[Int], callsite: String)

/** Everything the listeners saw while one operation ran. */
final class OpCapture {
  val jobs = mutable.ArrayBuffer[Job]()
  var stagesDone = 0
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var executions = 0
  val census = mutable.Map[String, Int]().withDefaultValue(0)
  var pinnedPeak = 0L
}

/** The benchmark's own SparkListener and QueryExecutionListener. Events
  * are attributed to the operation that is open when they are
  * delivered; [[close]] drains the listener bus first, so every event of
  * an operation is in before the next one opens. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var cur: OpCapture = null
  // engine file of each SQL execution's caller, by execution id
  private val execSite = new ConcurrentHashMap[Long, String]()
  // cached RDD block sizes, for the bytes pinned at any moment
  private val blocks = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()
  @volatile private var pinnedNow = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = cur
      if (c == null) return
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val details = e.stageInfos.headOption.map(_.details).getOrElse("")
      // jobs an adaptive plan submits from its own threads carry a pool
      // stack; their SQL execution recorded the caller's
      val site = Tracer.graftFile(details) match {
        case "" => props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSite.get(id.toLong))).getOrElse("")
        case f => f
      }
      val j = Job(e.jobId, group, e.time, -1L, e.stageIds, site)
      c.synchronized(c.jobs += j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val c = cur
      if (c == null) return
      c.synchronized(c.jobs.find(_.id == e.jobId).foreach(_.endMs = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = cur
      if (c != null) c.synchronized(c.stagesDone += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = cur
      val m = e.taskMetrics
      if (c == null || m == null) return
      c.synchronized {
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val f = Tracer.graftFile(x.details)
        val root = x.rootExecutionId.flatMap(r => Option(execSite.get(r)))
        execSite.put(x.executionId, if (f.nonEmpty) f else root.getOrElse(""))
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case id: RDDBlockId =>
          val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          val prev = Option(blocks.put(id, size)).map(_.longValue).getOrElse(0L)
          if (size == 0L) blocks.remove(id)
          pinnedNow += size - prev
          val c = cur
          if (c != null && pinnedNow > c.pinnedPeak) c.pinnedPeak = pinnedNow
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val c = cur
      if (c == null) return
      val counts = Census.of(qe.executedPlan)
      c.synchronized {
        c.executions += 1
        counts.foreach { case (k, v) => c.census(k) += v }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Opens an operation. The loop releases every pinned RDD between
    * operations, so an operation starts with nothing pinned. */
  def open(group: String): OpCapture = {
    drain()
    blocks.clear()
    pinnedNow = 0L
    val c = new OpCapture
    cur = c
    sc.setJobGroup(group, group, interruptOnCancel = false)
    c
  }

  def close(): OpCapture = {
    drain()
    sc.clearJobGroup()
    val c = cur
    cur = null
    c
  }
}

object Tracer {
  private val frame = """at graft\.(?!perfbench\.)[\w.$]+\((\w+)\.scala:\d+\)""".r
  private val bridgeFrame = """at org\.apache\.spark\.graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r
  private val benchFrame = """at graft\.perfbench\.""".r

  /** The engine source file of the first graft frame in a job's call
    * site; "bench" when the job was started by the benchmark itself (the
    * noop sink or a generator write); "" when there is no graft frame. */
  def graftFile(details: String): String = {
    val lines = details.linesIterator.map(l => "at " + l.trim).toSeq
    lines.collectFirst {
      case l if frame.findFirstMatchIn(l).isDefined =>
        frame.findFirstMatchIn(l).get.group(1)
      case l if bridgeFrame.findFirstMatchIn(l).isDefined =>
        bridgeFrame.findFirstMatchIn(l).get.group(1)
      case l if benchFrame.findFirstMatchIn(l).isDefined => "bench"
    }.getOrElse("")
  }

  /** Length of the union of [start, end] intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
