package graft

import graft.operators.Dedup
import graft.pipelines.CorpusPipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def landing() = graft.sources.Tables.documents(spark, sf)
    .select("doc_id", "text", "lang", "source")

  test("corpus cycles: accounting closes, dedup invariant holds, index == rebuild") {
    val dir = Files.createTempDirectory("graft-corpus").toString
    val corpusPath = s"$dir/corpus"
    val indexPath = s"$dir/index"
    val docs = landing()
    val cut = 250L
    // cycle 1: first half of the landing
    val s1 = unpinned(CorpusPipeline.runCycle(docs.filter($"doc_id" < cut),
      corpusPath, indexPath))
    assert(s1.nAccepted > 0 && s1.corpusSize == s1.nAccepted)
    assert(s1.nNew == s1.nRejectedQuality + s1.nRejectedExact +
      s1.nRejectedNearDup + s1.nAccepted)
    // cycle 2: FULL landing re-delivered (replay of cycle 1 + new docs)
    val s2 = unpinned(CorpusPipeline.runCycle(docs, corpusPath, indexPath))
    // replayed ACCEPTED docs are skipped at extract; replayed rejected
    // docs re-evaluate (deterministically — no rejected ledger kept)
    assert(s2.nNew == docs.count() - s1.nAccepted)
    assert(s2.nNew == s2.nRejectedQuality + s2.nRejectedExact +
      s2.nRejectedNearDup + s2.nAccepted)
    val corp = CorpusPipeline.corpus(spark, corpusPath, docs)
    assert(corp.count() == s2.corpusSize &&
      s2.corpusSize == s1.nAccepted + s2.nAccepted)

    // dedup invariants over the FINAL corpus:
    // no two accepted docs share text
    assert(corp.groupBy(md5($"text")).count().filter($"count" > 1).count() == 0)
    // no two accepted docs are near-dups at the banding's sensitivity
    val residual = Dedup.minhashLsh(corp, "doc_id", "text", 3, 16, 4)
      .filter($"n_bands" >= 2)
    assert(residual.count() == 0)
    // the maintained band index equals a from-scratch index of the corpus
    val maintained = CorpusPipeline.bandIndex(spark, indexPath)
      .select("doc", "band", "bucket")
    val rebuilt = Dedup.minhashBandIndex(corp, "doc_id", "text", 3, 16, 4)
    assert(maintained.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(maintained).count() == 0)

    // cycle 3: pure replay accepts nothing and leaves the state alone
    // (rejected docs re-evaluate to the same verdicts; accepted docs
    // are skipped at extract)
    val s3 = unpinned(CorpusPipeline.runCycle(docs, corpusPath, indexPath))
    assert(s3.nAccepted == 0 && s3.corpusSize == s2.corpusSize)
    // the accounting, field for field (landing, new, quality, exact,
    // near-dup, accepted, corpus size): the figures a direct count of
    // each stage's frame gives on this fixture
    assert(Seq(s1, s2, s3) == Seq(
      CorpusPipeline.CycleStats(250, 250, 191, 0, 2, 57, 57),
      CorpusPipeline.CycleStats(500, 443, 377, 0, 3, 63, 120),
      CorpusPipeline.CycleStats(500, 380, 377, 0, 3, 0, 120)))

    // every accepted doc came through unmodified
    val cols = Seq("doc_id", "text", "lang", "source")
    assert(corp.select(cols.map(col): _*)
      .exceptAll(docs.join(corp.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(cols.map(col): _*)).count() == 0)
  }

  test("streaming corpus ingest == batch cycles across micro-batch splits; replays converge") {
    val dir = Files.createTempDirectory("graft-corpus-stream").toString
    val in = s"$dir/landing"
    val docs = landing()
    val cut = 250L
    val first = docs.filter($"doc_id" < cut)
    val second = docs.filter($"doc_id" >= cut)

    // batch reference: the SAME splits through the batch cycle
    CorpusPipeline.runCycle(first, s"$dir/b_corpus", s"$dir/b_index")
    CorpusPipeline.runCycle(second, s"$dir/b_corpus", s"$dir/b_index")

    // streaming: land the splits as consecutive micro-batches
    first.coalesce(1).write.mode("overwrite").parquet(in)
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[(Long, CorpusPipeline.CycleStats)]
    val q = CorpusPipeline.ingestStream(
      spark.readStream.schema(docs.schema).parquet(in),
      s"$dir/s_corpus", s"$dir/s_index", s"$dir/ckpt",
      onStats = (id, st) => stats += ((id, st))).start()
    try {
      q.processAllAvailable()
      second.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    // corpus + index row-for-row equal to the batch cycles'
    val sc = spark.read.parquet(s"$dir/s_corpus")
    val bc = spark.read.parquet(s"$dir/b_corpus")
    assert(sc.count() > 0)
    assert(sc.exceptAll(bc).count() == 0 && bc.exceptAll(sc).count() == 0)
    val si = spark.read.parquet(s"$dir/s_index")
      .select("doc", "band", "bucket").localCheckpoint() // pinned pre-replay
    val bi = spark.read.parquet(s"$dir/b_index").select("doc", "band", "bucket")
    assert(si.exceptAll(bi).count() == 0 && bi.exceptAll(si).count() == 0)
    // each micro-batch surfaced a closing accounting row
    assert(stats.size == 2 && stats.forall { case (_, st) =>
      st.nNew == st.nRejectedQuality + st.nRejectedExact +
        st.nRejectedNearDup + st.nAccepted })

    // replay: a fresh-checkpoint query re-delivers EVERY landed file as
    // one micro-batch; accepted docs skip at extract, rejected docs
    // re-reach the same verdicts — state unchanged
    val before = sc.count()
    val q2 = CorpusPipeline.ingestStream(
      spark.readStream.schema(docs.schema).parquet(in),
      s"$dir/s_corpus", s"$dir/s_index", s"$dir/ckpt2").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$dir/s_corpus").count() == before)
    val si2 = spark.read.parquet(s"$dir/s_index").select("doc", "band", "bucket")
    assert(si2.exceptAll(si).count() == 0 && si.exceptAll(si2).count() == 0)
  }

  test("accounting surfaces on empty, fully-replayed and fully-rejected batches, broadcast or not") {
    val docs = landing()
    // with broadcasts off every join sorts and merges; adaptive execution
    // then prunes a join with an empty side, which is where a metric
    // observed under that join goes missing
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    Seq(None, Some("-1")).foreach { threshold =>
      threshold.foreach(spark.conf.set(key, _))
      try {
        val dir = Files.createTempDirectory("graft-corpus-edge").toString
        def cycle(batch: org.apache.spark.sql.DataFrame, minQuality: Double = 0.5) =
          unpinned(CorpusPipeline.runCycle(batch, s"$dir/corpus", s"$dir/index",
            minQuality = minQuality))
        val first = cycle(docs.filter($"doc_id" < 60L))
        assert(first.nAccepted > 0)
        val size = first.corpusSize
        // nothing landed
        assert(cycle(docs.limit(0)) ==
          CorpusPipeline.CycleStats(0, 0, 0, 0, 0, 0, size))
        // only docs already in the corpus: all skipped at extract
        val replay = docs.join(CorpusPipeline.corpus(spark, s"$dir/corpus", docs)
          .select("doc_id"), Seq("doc_id"), "left_semi")
        assert(cycle(replay) ==
          CorpusPipeline.CycleStats(size, 0, 0, 0, 0, 0, size))
        // every new doc fails curation (no score reaches 2.0)
        val unseen = docs.filter($"doc_id" >= 60L && $"doc_id" < 90L)
        val n = unseen.count()
        assert(cycle(unseen, minQuality = 2.0) ==
          CorpusPipeline.CycleStats(n, n, n, 0, 0, 0, size))
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("a failed corpus commit leaves the index alone; the replayed batch is accepted") {
    val dir = Files.createTempDirectory("graft-corpus-partial").toString
    val docs = landing()
    val first = docs.filter($"doc_id" < 250L)
    def table(path: String) = spark.read.parquet(path)
    def sameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0
    // reference: both batches commit
    CorpusPipeline.runCycle(first, s"$dir/ref_corpus", s"$dir/ref_index")
    val ref = CorpusPipeline.runCycle(docs, s"$dir/ref_corpus", s"$dir/ref_index")

    val corpusPath = s"$dir/corpus"
    val indexPath = s"$dir/index"
    CorpusPipeline.runCycle(first, corpusPath, indexPath)
    val corpus1 = table(corpusPath).localCheckpoint()
    val index1 = table(indexPath).localCheckpoint()
    // the second batch's corpus commit fails: the stored corpus carries
    // a `source` column the merge cannot union with the batch's
    corpus1.withColumn("source", array($"source"))
      .write.mode("overwrite").partitionBy("lang").parquet(corpusPath)
    intercept[org.apache.spark.sql.AnalysisException](
      CorpusPipeline.runCycle(docs, corpusPath, indexPath))
    // the index holds no doc of the failed batch
    assert(sameRows(table(indexPath), index1),
      "the index commit landed without its corpus commit")

    // the corpus is mended and the batch replayed: it converges on the
    // state and the accounting of the commit that never failed
    corpus1.write.mode("overwrite").partitionBy("lang").parquet(corpusPath)
    assert(unpinned(CorpusPipeline.runCycle(docs, corpusPath, indexPath)) == ref)
    assert(sameRows(table(corpusPath), table(s"$dir/ref_corpus")))
    assert(sameRows(table(indexPath), table(s"$dir/ref_index")))
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
    a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0

  /** No `doc_id` twice in the corpus, no `(doc, band)` twice in the index. */
  private def noDuplicateKeys(corpusPath: String, indexPath: String): Boolean =
    spark.read.parquet(corpusPath).groupBy("doc_id").count()
      .filter($"count" > 1).isEmpty &&
      spark.read.parquet(indexPath).groupBy("doc", "band").count()
        .filter($"count" > 1).isEmpty

  test("a cycle's commits write the increment's bytes, whatever the archive size") {
    // the same 100-doc increment after archives of two sizes: the bytes
    // the cycle writes (every task's output metrics) must not grow with
    // the archive, as a commit that rewrites the stored corpus and index
    // would make them
    val sc = spark.sparkContext
    val docs = landing()
    val increment = docs.filter($"doc_id" >= 400L)
    def written(archiveCut: Long): (Long, CorpusPipeline.CycleStats) = {
      val dir = Files.createTempDirectory("graft-corpus-bytes").toString
      CorpusPipeline.runCycle(docs.filter($"doc_id" < archiveCut),
        s"$dir/corpus", s"$dir/index")
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
      }
      org.apache.spark.graft.ListenerBridge.waitUntilListenersProcessed(sc)
      sc.addSparkListener(counter)
      val st =
        try CorpusPipeline.runCycle(increment, s"$dir/corpus", s"$dir/index")
        finally {
          org.apache.spark.graft.ListenerBridge.waitUntilListenersProcessed(sc)
          sc.removeSparkListener(counter)
        }
      (bytes.get, st)
    }
    val (small, atSmall) = written(100L)
    val (large, atLarge) = written(400L)
    assert(atLarge.corpusSize - atLarge.nAccepted >=
      3 * (atSmall.corpusSize - atSmall.nAccepted))
    assert(atSmall.nAccepted > 0 && atLarge.nAccepted > 0)
    assert(math.abs(large - small) <= 0.1 * small,
      s"increment wrote $small B after the small archive ($atSmall), " +
        s"$large B after the large one ($atLarge)")
  }

  test("a corpus cycle of the same shape as the cycle before it compiles almost no code") {
    // a long-lived session runs the same plans every cycle; once the
    // generated-code cache holds a cycle, the next one reuses its classes
    val dir = Files.createTempDirectory("graft-corpus-codegen").toString
    val docs = landing()
    val batches = Seq(0L, 150L, 300L, 450L).sliding(2).zipWithIndex.map {
      case (Seq(lo, hi), i) =>
        docs.filter($"doc_id" >= lo && $"doc_id" < hi).coalesce(1)
          .write.parquet(s"$dir/landing/$i")
        spark.read.parquet(s"$dir/landing/$i")
    }.toList
    def cycle(batch: org.apache.spark.sql.DataFrame) =
      CorpusPipeline.runCycle(batch, s"$dir/corpus", s"$dir/index")
    cycle(batches(0)) // creates the corpus: a shape of its own
    cycle(batches(1))
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    assert(cycle(batches(2)).nAccepted > 0)
    val compiled = compiles.getCount - before
    assert(compiled <= CompileBudget, s"the repeated cycle compiled $compiled classes")
  }

  /** Classes a repeated corpus cycle may compile: measured 12 with append
    * commits and the graft session's code cache, 145 and 151 with merge
    * commits and Spark's default cache. */
  private val CompileBudget = 30

  test("a cycle stopped after both commits, before its stats, replays to the state of a run that never failed") {
    val dir = Files.createTempDirectory("graft-corpus-stopped").toString
    val in = s"$dir/landing"
    val docs = landing()
    val first = docs.filter($"doc_id" < 250L)
    val second = docs.filter($"doc_id" >= 250L)
    // reference: the same two batches, no failure
    CorpusPipeline.runCycle(first, s"$dir/ref_corpus", s"$dir/ref_index")
    CorpusPipeline.runCycle(second, s"$dir/ref_corpus", s"$dir/ref_index")

    // the second micro-batch commits both tables, then fails delivering
    // its stats; the restarted query replays it from the checkpoint
    var stopped = false
    val onStats = (batchId: Long, _: CorpusPipeline.CycleStats) =>
      if (batchId == 1 && !stopped) {
        stopped = true
        throw new IllegalStateException("stopped before the stats")
      }
    def query() = CorpusPipeline.ingestStream(
      spark.readStream.schema(docs.schema).parquet(in),
      s"$dir/corpus", s"$dir/index", s"$dir/ckpt", onStats = onStats).start()
    first.coalesce(1).write.parquet(in)
    val q = query()
    try {
      q.processAllAvailable()
      second.coalesce(1).write.mode("append").parquet(in)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
    } finally q.stop()
    assert(stopped)
    val q2 = query()
    try q2.processAllAvailable() finally q2.stop()

    assert(sameRows(spark.read.parquet(s"$dir/corpus"),
      spark.read.parquet(s"$dir/ref_corpus")))
    assert(sameRows(spark.read.parquet(s"$dir/index"),
      spark.read.parquet(s"$dir/ref_index")))
    assert(noDuplicateKeys(s"$dir/corpus", s"$dir/index"))
  }

  test("a doc_id landing twice in one batch, with the same and with a different text, commits one corpus row") {
    val dir = Files.createTempDirectory("graft-corpus-twice").toString
    val docs = landing()
    // two docs a cycle accepts: x from the batch, z from outside it
    CorpusPipeline.runCycle(docs.filter($"doc_id" < 120L),
      s"$dir/probe_corpus", s"$dir/probe_index")
    val probe = spark.read.parquet(s"$dir/probe_corpus")
    val x = probe.filter($"doc_id" < 60L).agg(min($"doc_id")).head().getLong(0)
    val z = probe.filter($"doc_id" >= 60L).agg(min($"doc_id")).head().getLong(0)
    val base = docs.filter($"doc_id" < 60L)
    val batch = base
      .unionByName(base.filter($"doc_id" === x))
      .unionByName(docs.filter($"doc_id" === z).withColumn("doc_id", lit(x)))
    val st = unpinned(CorpusPipeline.runCycle(batch, s"$dir/corpus", s"$dir/index"))
    val corp = spark.read.parquet(s"$dir/corpus")
    assert(corp.filter($"doc_id" === x).count() == 1)
    assert(st.nLanding == 62 && st.nNew == st.nRejectedQuality +
      st.nRejectedExact + st.nRejectedNearDup + st.nAccepted)
    assert(corp.count() == st.corpusSize && st.corpusSize == st.nAccepted)
    assert(noDuplicateKeys(s"$dir/corpus", s"$dir/index"))
    // the index holds the bands of the text the corpus kept
    assert(sameRows(spark.read.parquet(s"$dir/index").select("doc", "band", "bucket"),
      Dedup.minhashBandIndex(corp, "doc_id", "text", 3, 16, 4)))
  }
}
