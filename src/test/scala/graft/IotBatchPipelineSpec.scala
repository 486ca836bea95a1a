package graft

import graft.pipelines.IotBatchPipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The master-DAG contract: repeated incremental cycles over a growing
  * landing converge to exactly the single-shot full recompute, and
  * re-firing with nothing new changes nothing. */
class IotBatchPipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Each cadence's from-scratch rollup of the full stage of `ev`. */
  private def recompute(ev: org.apache.spark.sql.DataFrame) = {
    val st = graft.operators.Stage.stageEvents(ev)
    val wk = date_format(graft.operators.TimeAgg.weekBucket(col("ts")), "yyyy-MM-dd")
    Map(
      "daily" -> st.groupBy(col("user_id"), col("day")),
      "weekly" -> st.withColumn("week", wk).groupBy(col("user_id"), col("week")),
      "monthly" -> st.groupBy(col("user_id"), col("month")))
      .map { case (name, g) => name -> g.agg(
        graft.functions.Portable.fixedSum(col("value"), 4).as("value_sum"),
        count(lit(1)).as("n_events"),
        max(col("ts")).as("last_ts")) }
  }

  /** Asserts the `names` cadence tables under `root` each equal their
    * full recompute. */
  private def assertRecomputed(root: String,
                               want: Map[String, org.apache.spark.sql.DataFrame],
                               names: Seq[String]): Unit =
    names.foreach { name =>
      val w = want(name)
      val got = spark.read.parquet(s"$root/$name")
        .select(w.columns.map(col): _*)
      if (got.exceptAll(w).count() != 0) {
        println(s"=== $name GOT-not-WANT ===")
        got.exceptAll(w).show(10, false)
        println(s"=== $name WANT-not-GOT ===")
        w.exceptAll(got).show(10, false)
      }
      assert(got.exceptAll(w).count() == 0 && w.exceptAll(got).count() == 0,
        s"$name cadence diverged from the full recompute")
    }

  test("incremental cycles == full recompute; empty cycle is a no-op") {
    val stage = Files.createTempDirectory("graft-bp-stage").toString + "/stage"
    val agg = Files.createTempDirectory("graft-bp-agg").toString + "/agg"
    val ev = graft.sources.Tables.events(spark, sf)
    val cut = ev.agg(expr("percentile_approx(cast(ts as double), 0.5)"))
      .head().getDouble(0)

    // cycle 1: first half of the landing (by time — the cursor order a
    // landing zone provides)
    unpinned(IotBatchPipeline.runCycle(
      ev.filter(col("ts").cast("double") <= cut), stage, agg))
    assert(spark.read.parquet(stage).count() > 0)

    // cycle 2: full landing visible (second half arrived); the slice
    // re-extracts only from the watermark, boundary replayed
    unpinned(IotBatchPipeline.runCycle(ev, stage, agg))

    // stage table == the typed projection of the full landing, exactly
    val gotStage = spark.read.parquet(stage)
    val wantStage = graft.operators.Stage.stageEvents(ev)
    assert(gotStage.count() == wantStage.count())
    assert(gotStage.select(wantStage.columns.map(col): _*).exceptAll(wantStage).count() == 0
      && wantStage.exceptAll(gotStage.select(wantStage.columns.map(col): _*)).count() == 0)

    // agg table == a from-scratch rollup of the full stage
    def canonAgg(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "day", "value_sum", "n_events", "last_ts")
    val wantAgg = wantStage.groupBy(col("user_id"), col("day"))
      .agg(graft.functions.Portable.fixedSum(col("value"), 4).as("value_sum"),
        count(lit(1)).as("n_events"),
        max(col("ts")).as("last_ts"))
    val gotAgg = canonAgg(spark.read.parquet(agg))
    assert(gotAgg.exceptAll(canonAgg(wantAgg)).count() == 0
      && canonAgg(wantAgg).exceptAll(gotAgg).count() == 0)

    // cycle 3: nothing new — table states must be byte-stable
    val stageBefore = gotStage.collect().map(_.toSeq).toSet
    val aggBefore = gotAgg.collect().map(_.toSeq).toSet
    unpinned(IotBatchPipeline.runCycle(ev, stage, agg))
    assert(spark.read.parquet(stage).collect().map(_.toSeq).toSet == stageBefore)
    assert(canonAgg(spark.read.parquet(agg)).collect().map(_.toSeq).toSet == aggBefore)

    // cycle 4: a NEW event lands at ts EXACTLY the watermark — the >=
    // extract replays the boundary and the INCLUSIVE agg refresh must
    // roll it up too (a strict delta stages it but never aggregates it:
    // the silent-rollup-loss case)
    val wmTs = spark.read.parquet(stage)
      .agg(max(col("ts"))).head().getTimestamp(0)
    val tieUser = ev.limit(1).select("user_id").head().getLong(0)
    val tie = Seq((999999999L, wmTs, tieUser, "view", 1.0, """{"k": 1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    unpinned(IotBatchPipeline.runCycle(ev.unionByName(tie), stage, agg))
    assert(spark.read.parquet(stage)
      .filter(col("event_id") === 999999999L).count() == 1)
    val tieDay = graft.operators.TimeAgg.dayKey(lit(wmTs))
    val before = wantAgg.filter(col("user_id") === tieUser && col("day") === tieDay)
      .select("n_events").as[Long].collect().headOption.getOrElse(0L)
    val after = spark.read.parquet(agg)
      .filter(col("user_id") === tieUser && col("day") === tieDay)
      .select("n_events").as[Long].head()
    assert(after == before + 1,
      "the watermark-tie event must reach the rollup, not just the stage")
  }

  test("multi-cadence cycles: daily+weekly+monthly all converge; cold partitions untouched") {
    val root = Files.createTempDirectory("graft-bp-multi").toString
    val stage = root + "/stage"
    val cadences = Seq(
      IotBatchPipeline.dailyCadence(root + "/daily"),
      IotBatchPipeline.weeklyCadence(root + "/weekly"),
      IotBatchPipeline.monthlyCadence(root + "/monthly"))
    val ev = graft.sources.Tables.events(spark, sf)
    val cut = ev.agg(expr("percentile_approx(cast(ts as double), 0.5)"))
      .head().getDouble(0)

    // growing landing: half, then all
    unpinned(IotBatchPipeline.runCycles(
      ev.filter(col("ts").cast("double") <= cut), stage, cadences))
    unpinned(IotBatchPipeline.runCycles(ev, stage, cadences))

    // every cadence == a from-scratch rollup of the full stage
    val want = recompute(ev)
    assertRecomputed(root, want, want.keys.toSeq)

    // an empty cycle re-aggregates only the boundary period of each
    // cadence: a COLD weekly partition's files must stay byte-for-byte
    // in place (dynamic partition overwrite never touches it)
    def partitionFiles(table: String, part: String) = {
      val dir = java.nio.file.Paths.get(root, table, part)
      import scala.jdk.CollectionConverters._
      Files.list(dir).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => (p.getFileName.toString, Files.size(p),
          Files.getLastModifiedTime(p).toMillis)).toSet
    }
    // partition type inference reads "2024-01-01" back as a date — cast
    // for the directory-name round trip
    val weeks = spark.read.parquet(root + "/weekly")
      .select(min(col("week").cast("string")), max(col("week").cast("string")))
      .head()
    val (coldWeek, hotWeek) = (weeks.getString(0), weeks.getString(1))
    assert(coldWeek != hotWeek, "test data must span at least two weeks")
    val coldBefore = partitionFiles("weekly", s"week=$coldWeek")
    unpinned(IotBatchPipeline.runCycles(ev, stage, cadences))
    assert(partitionFiles("weekly", s"week=$coldWeek") == coldBefore,
      "an untouched week partition was rewritten by an empty cycle")
    // while every cadence's content is still exactly the recompute
    assertRecomputed(root, want, want.keys.toSeq)
  }

  test("a failing cadence refresh is rethrown as itself; the other refreshes land") {
    class CadenceFailure extends RuntimeException("weekly aggregate failed")
    val root = Files.createTempDirectory("graft-bp-fail").toString
    val stage = root + "/stage"
    val weekly = IotBatchPipeline.weeklyCadence(root + "/weekly")
    val broken = weekly.copy(aggregate = _ => throw new CadenceFailure)
    val ev = graft.sources.Tables.events(spark, sf)
    def cadences(w: IotBatchPipeline.AggCadence) = Seq(
      IotBatchPipeline.dailyCadence(root + "/daily"), w,
      IotBatchPipeline.monthlyCadence(root + "/monthly"))
    // the cadence's own exception, not a wrapper from the overlap
    intercept[CadenceFailure](
      IotBatchPipeline.runCycles(ev, stage, cadences(broken)))
    // the refreshes beside it finished before the call returned
    val want = recompute(ev)
    assertRecomputed(root, want, Seq("daily", "monthly"))
    // a re-run with the fixed cadence converges on the recompute
    unpinned(IotBatchPipeline.runCycles(ev, stage, cadences(weekly)))
    assertRecomputed(root, want, want.keys.toSeq)
  }

  test("an interrupted caller stops every overlapped write before it returns") {
    val started = new java.util.concurrent.CountDownLatch(2)
    val stopped = new java.util.concurrent.atomic.AtomicInteger
    def write(): Unit = {
      started.countDown()
      try Thread.sleep(60000)
      catch { case e: InterruptedException => stopped.incrementAndGet(); throw e }
    }
    @volatile var seen: Option[(Throwable, Int, Boolean)] = None
    val caller = new Thread(() =>
      try graft.pipelines.Cycle.overlapped(() => write(), () => write())
      catch { case e: Throwable =>
        seen = Some((e, stopped.get, Thread.currentThread().isInterrupted))
      })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive, "the interrupted caller is still blocked")
    val (e, writesStopped, flag) = seen.get
    assert(e.isInstanceOf[InterruptedException], e)
    assert(writesStopped == 2, "the call returned before its writes had stopped")
    assert(flag, "the caller's interrupt flag was not restored")
  }
}
