package graft

import java.nio.file.Files

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The declared input-table contract of [[graft.sources.Tables]]: the
  * schemas match the real files, an open starts no Spark job and leaves
  * the session conf alone, and a file that drifts fails loudly. */
class TablesSpec extends SparkSpec {

  private val sfDirs = {
    val root = new java.io.File(sf).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"$root/$s")
  }

  test("declared schemas equal the parquet footers at every scale factor") {
    // inferred once here, with NTZ inference off so the micros-no-tz
    // timestamps infer as TIMESTAMP; the session value is restored
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val footers = try {
      for (d <- sfDirs; t <- Tables.all)
        yield (d, t, spark.read.parquet(s"$d/$t.parquet").schema)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    footers.foreach { case (d, t, footer) =>
      assert(Tables.schemas(t) == footer,
        s"$d/$t.parquet drifted from the declared schema:\n" +
          s"declared ${Tables.schemas(t).treeString}\nfooter ${footer.treeString}")
    }
  }

  test("Tables.load starts no Spark job and leaves the session conf unchanged") {
    val sc = spark.sparkContext
    val group = "graft-tables-spec"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val confBefore = spark.conf.getAll
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "Tables.load")
    try {
      Tables.all.foreach { t =>
        val df = Tables.load(spark, sf, t)
        df.queryExecution.analyzed
        assert(df.schema == Tables.schemas(t), t)
      }
      org.apache.spark.graft.ListenerBridge.waitUntilListenersProcessed(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get() == 0, s"opening the ${Tables.all.size} tables started ${jobs.get()} jobs")
    assert(spark.conf.getAll == confBefore)
  }

  test("drift drill: a string events.ts fails at the scan, naming the column") {
    val dir = Files.createTempDirectory("graft-tables-drift").toString
    spark.range(3).select(col("id").as("event_id"),
        concat(lit("2024-01-0"), (col("id") + 1).cast("string")).as("ts"),
        col("id").as("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    var rows: Array[org.apache.spark.sql.Row] = null
    val e = intercept[Exception] { rows = ev.collect() }
    assert(rows == null, "rows came back from a drifted file")
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("[ts]"), s"the error does not name the column:\n$messages")
  }
}
