package graft

import graft.operators.{Curation, Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "completely different content about spark engines and scala code"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeper = min id") {
    val got = Dedup.exact(corpus, "doc_id", "text")
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("ngram jaccard: exact dups score 1.0, near dups high, unrelated absent") {
    val pairs = Dedup.ngramJaccard(corpus, "doc_id", "text", 3, 0.25, 100)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("containment: an embedded prefix scores ~1 one-sided where jaccard stays low") {
    // doc 10 = the first 5 tokens of doc 1: every one of its 3
    // shingles is in doc 1, so containment_b = 1.0 while jaccard =
    // 3/7 — the subset relation jaccard under-reports
    val docs = corpus.unionByName(
      Seq((10L, "the quick brown fox jumps")).toDF("doc_id", "text"))
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5, 100)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got((1L, 10L)) == ((0.4286, 1.0))) // pround(3/7, 4dp)
    // the exact-dup pair is fully contained BOTH ways
    assert(got((1L, 2L)) == ((1.0, 1.0)))
    // unrelated doc 4 pairs with nobody
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("containment: threshold applies to EITHER side; the stop-shingle valve still bounds buckets") {
    val docs = corpus.unionByName(
      Seq((10L, "the quick brown fox jumps")).toDF("doc_id", "text"))
    // threshold above both sides of the near-dup pair drops it but
    // keeps the subset pair via its perfect side
    val strict = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.99, 100)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(strict((1L, 10L)) && strict((1L, 2L)) && !strict((1L, 3L)))
    // maxDocFreq = 1 drops every shared-shingle bucket entirely
    assert(Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5, 1).isEmpty)
  }

  test("minhash LSH: exact dups collide in every band") {
    val got = Dedup.minhashLsh(corpus, "doc_id", "text", 3, 4, 1)
      .filter($"doc_a" === 1L && $"doc_b" === 2L)
      .select("n_bands").as[Long].collect()
    assert(got.toSeq == Seq(4L))
  }

  test("simhash: identical docs at hamming 0; near-dups close") {
    val got = Dedup.simhashNearDup(corpus, "doc_id", "text", 12)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 0L)
  }

  test("native simhash64 is bit-identical to the declarative vote pipeline") {
    val edge = corpus.union(Seq(
      (10L, ""), (11L, "   \t\n "), (12L, "one"),
      (13L, "Mixed CASE tokens Mixed case"), (14L, "héllo wörld héllo"))
      .toDF("doc_id", "text"))
    // reference formulation: explode occurrences → xxhash64 → 64 bit-vote
    // sums (exactly what Dedup.simhash computed before the native expr)
    val tok = edge.select($"doc_id".as("doc"),
      explode_outer(graft.functions.TextFunctions.tokens(lower($"text"))).as("t"))
    val hashed = tok.select($"doc",
      when($"t".isNotNull, xxhash64($"t")).as("h"))
    val votes = (0 until 64).map(j =>
      sum(when($"h".isNull, lit(0L))
        .when(shiftright($"h", j).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"v$j"))
    val agg = hashed.groupBy("doc").agg(votes.head, votes.tail: _*)
    val sig = (0 until 64).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    val want = agg.select($"doc", sig.as("simhash"))
      .as[(Long, Long)].collect().toMap
    val got = Dedup.simhash(edge, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("hashed shingle keys (100 TB shuffle mode) match string keys exactly") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val a = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.25)
    val b = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.25,
      hashShingleKeys = true)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(a.count() > 0)
  }

  test("hashed keys match string keys across the whole shingle family") {
    val docs = graft.sources.Tables.documents(spark, sf)
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
      assert(a.count() > 0)
    }
    same(Dedup.sharedShingleRatio(docs, "doc_id", "text", 3),
      Dedup.sharedShingleRatio(docs, "doc_id", "text", 3, hashShingleKeys = true))
    same(Curation.contaminationSplit(docs, "doc_id", "text", 3,
        col("doc_id") % 20 === 0),
      Curation.contaminationSplit(docs, "doc_id", "text", 3,
        col("doc_id") % 20 === 0, hashShingleKeys = true))
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val ev = docs.filter(col("doc_id") % 20 === 0)
    same(Curation.contamination(train, ev, "doc_id", "text", 3),
      Curation.contamination(train, ev, "doc_id", "text", 3,
        hashShingleKeys = true))
    // e7 is a TRANSFORM (120-bit keys): clean_text must rebuild
    // byte-identically, not just match on counts
    same(Dedup.removeRepeatedSpans(docs, "doc_id", "text", 3),
      Dedup.removeRepeatedSpans(docs, "doc_id", "text", 3, hashSpanKeys = true))
  }

  test("removeRepeatedSpans deletes cross- and within-doc repeats, keeps the rest") {
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),     // "the quick brown" also in doc 2
      (2L, "the quick brown cat sleeps"),
      (3L, "go go go go go"),                     // within-doc repeated span
      (4L, "completely unique sentence here"),
      (5L, "a b"))                                // shorter than k: untouched
      .toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSpans(docs, "doc_id", "text", 3)
      .select("doc_id", "n_tokens", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    // docs 1-2: span [0,3) removed, suffix survives
    assert(got(0) == ((1L, 6L, 3L, "fox jumps high")))
    assert(got(1) == ((2L, 5L, 2L, "cat sleeps")))
    // doc 3: "go go go" occurs at p=0,1,2 -> every position covered
    assert(got(2) == ((3L, 5L, 0L, "")))
    // unique doc untouched; sub-k doc untouched
    assert(got(3) == ((4L, 4L, 4L, "completely unique sentence here")))
    assert(got(4) == ((5L, 2L, 2L, "a b")))
  }

  test("clusters: min-label propagation finds connected components") {
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L), (9L, 1L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("graft SQL functions register and evaluate via spark.sql") {
    GraftExtensions.register(spark)
    // raw expression: no lowercasing (that's TextFunctions.shingles' job)
    val sh = spark.sql("SELECT word_shingles('A b c d', 3) AS s")
      .as[Seq[String]].head()
    assert(sh == Seq("A b c", "b c d"))
    val dp = spark.sql("SELECT vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].head()
    assert(dp == 11.0)
    val nm = spark.sql("SELECT l2_normalize(array(3.0d, 4.0d)) AS v")
      .as[Seq[Double]].head()
    assert(nm == Seq(0.6, 0.8))
    // simhash64: same signature as the operator path for identical text
    val sig = spark.sql("SELECT simhash64('the quick brown fox') AS s")
      .as[Long].head()
    assert(sig == graft.functions.expressions.SimHash64.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("the quick brown fox")))
    // text_profile: struct of counts, en profile sees the stopwords
    val tp = spark.sql(
      "SELECT text_profile('the cat and the hat, ok?') AS p")
      .select("p.n_tokens", "p.n_punct", "p.n_en").as[(Int, Int, Int)].head()
    assert(tp == ((6, 2, 3))) // tokens; ',' + '?'; the/and/the
    // simhash60: the portable (oracle-matchable) signature
    val s60 = spark.sql("SELECT simhash60('the quick brown fox') AS s")
      .as[Long].head()
    val s60op = Dedup.simhashPortable(
      Seq((1L, "the quick brown fox")).toDF("doc_id", "text"), "doc_id", "text")
      .select("simhash").as[Long].head()
    assert(s60 == s60op)
    // ordered_pairs: the LSH bucket pair expansion, from SQL
    val op = spark.sql("SELECT ordered_pairs(array(1L, 2L, 3L)) AS p")
      .select(explode(col("p")).as("e")).select("e.a", "e.b")
      .as[(Long, Long)].collect().toSet
    assert(op == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // pq_adc: Σᵢ qtab[i][codes[i]] — code 1 picks 20.0, code 0 picks 30.0
    val adc = spark.sql(
      "SELECT pq_adc(array(1, 0), array(array(10.0d, 20.0d), array(30.0d, 40.0d))) AS s")
      .as[Double].head()
    assert(adc == 50.0)
    // char_ngrams: sliding code-point grams — non-ASCII must slice on
    // code points (the substr semantics the oracle mirrors), short
    // strings yield the empty list
    val cn = spark.sql("SELECT char_ngrams('héllo', 3) AS g, char_ngrams('ab', 3) AS e")
      .as[(Seq[String], Seq[String])].head()
    assert(cn._1 == Seq("hél", "éll", "llo") && cn._2 == Seq.empty)
    // equals the declarative substr spelling on real corpus text
    val docsCn = graft.sources.Tables.documents(spark, sf).limit(200)
    val mismatch = docsCn.select(
        expr("char_ngrams(text, 3)").as("fast"),
        when(length(col("text")) >= 3,
          expr("transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))"))
          .otherwise(expr("array()")).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(mismatch.count() == 0)
    // pq_adc is a public SQL function: an out-of-range or negative code
    // must fail loudly, never read out-of-bounds UnsafeArrayData memory
    for (bad <- Seq("array(2, 0)", "array(-1, 0)")) {
      val e = intercept[Exception] {
        spark.sql(
          s"SELECT pq_adc($bad, array(array(10.0d, 20.0d), array(30.0d, 40.0d))) AS s")
          .as[Double].head()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("out of range")), s"wrong failure for $bad: $e")
    }
  }

  test("incremental LSH probe == the full run's cross-split candidates") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val isNew = col("doc_id") % 10 === 0
    // ground truth: the full self-run's pairs with one doc on each side
    // of the split, reoriented as (new, existing)
    val full = Dedup.minhashLsh(docs, "doc_id", "text", 3, 16, 4)
      .as[(Long, Long, Long)].collect()
    val want = full.flatMap { case (a, b, n) =>
      (a % 10 == 0, b % 10 == 0) match {
        case (true, false) => Some((a, b, n))
        case (false, true) => Some((b, a, n))
        case _ => None
      }
    }.toSet
    val idx = Dedup.minhashBandIndex(docs.filter(!isNew),
      "doc_id", "text", 3, 16, 4)
    val got = Dedup.minhashLshAgainst(idx, docs.filter(isNew),
      "doc_id", "text", 3, 16, 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    // the index-side bucket cap drops hot buckets, never invents pairs:
    // capped results are a subset, and pairs that survive keep their
    // band counts bounded by the uncapped run's
    val capped = Dedup.minhashLshAgainst(idx, docs.filter(isNew),
      "doc_id", "text", 3, 16, 4, maxBucket = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped.forall { case (n, o, nb) =>
      want.exists(w => w._1 == n && w._2 == o && nb <= w._3) })
  }

  test("applyClusters keeps exactly one doc per cluster plus singletons") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (7L, "b"), (9L, "c"))
      .toDF("doc_id", "text")
    // cluster {1,2,3} with keeper 1; docs 7 and 9 unclustered
    val cl = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
    val kept = Dedup.applyClusters(docs, "doc_id", cl, "doc_id", "cluster_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 7L, 9L))
  }

  test("softDedupWeights: ppm mass 1/cluster_size, singletons weigh exactly 1e6") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"),
      (9L, "c")).toDF("doc_id", "text")
    // near-dup pairs chain {1,2,3} and pair {4,5}; 9 unclustered
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.softDedupWeights(docs, "doc_id", pairs, "doc_a", "doc_b")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L), (3L, 1L, 3L, 333333L),
      (4L, 4L, 2L, 500000L), (5L, 4L, 2L, 500000L),
      (9L, 9L, 1L, 1000000L)), s"got $got")
    // the sampler-facing invariant: every cluster's total mass is
    // within one floor-ULP of 1e6 — duplicated content never
    // outweighs unique content however many copies land
    val mass = got.groupBy(_._2).map { case (_, rs) => rs.toSeq.map(_._4).sum }
    assert(mass.forall(m => m >= 999999L && m <= 1000000L), s"mass $mass")
  }

  test("two-hop propagation: same components, fewer iterations on a path graph") {
    // a 10-node path is the adversarial shape for one-hop min
    // propagation (iterations ~ diameter); pointer jumping must halve
    // its way down while landing on the identical fixed point
    val pairs = (1L to 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (one, itOne) = Dedup.clustersIter(pairs, "doc_a", "doc_b", twoHop = false)
    val (two, itTwo) = Dedup.clustersIter(pairs, "doc_a", "doc_b")
    assert(two.select("cluster_id").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(one.exceptAll(two).count() == 0 && two.exceptAll(one).count() == 0)
    assert(itTwo < itOne,
      s"two-hop should need fewer iterations: $itTwo vs $itOne")
  }

  test("clusters that have not converged within maxIter throw naming the loop, never partial labels") {
    // one-hop propagation needs ~diameter rounds on the 10-node path;
    // three rounds leave labels still changing
    val pairs = (1L to 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](
      Dedup.clusters(pairs, "doc_a", "doc_b", maxIter = 3, twoHop = false))
    assert(e.getMessage.contains("Dedup.clusters") && e.getMessage.contains("3 rounds"),
      e.getMessage)
  }

  test("embedding near-dup finds identical vectors within cluster") {
    val emb = Seq(
      (1L, Array(1.0, 0.0, 0.0), 0), (2L, Array(1.0, 0.0, 0.0), 0),
      (3L, Array(0.0, 1.0, 0.0), 0), (4L, Array(1.0, 0.0, 0.0), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Dedup.embeddingNearDup(emb, "vec_id", "embedding", "label", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L))) // 4 is identical but in another cluster cell
  }

  test("embedding near-dup maxCluster valve bounds the pair expansion") {
    // degenerate input: ONE mega-cluster — uncapped pair count is
    // quadratic (n·(n-1)/2); the valve must drop the oversized cluster
    // entirely (maxBucket semantics) while smaller clusters still pair
    val n = 40
    val mega = (1 to n).map(i => (i.toLong, Array(1.0, 0.0), 0))
    val small = Seq((100L, Array(0.0, 1.0), 1), (101L, Array(0.0, 1.0), 1))
    val emb = (mega ++ small).toDF("vec_id", "embedding", "label")
    val uncapped = Dedup.embeddingNearDup(emb, "vec_id", "embedding", "label", 0.99)
    assert(uncapped.count() == n.toLong * (n - 1) / 2 + 1)
    val capped = Dedup.embeddingNearDup(emb, "vec_id", "embedding", "label", 0.99,
      maxCluster = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)),
      "oversized cluster must be dropped before the quadratic expansion")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("knnClassify: majority vote from exact neighbors, ties to smaller label") {
    import spark.implicits._
    // 1-D embeddings make the neighbor sets obvious: queries sit inside
    // a cluster of label-1 points with one label-2 outliar among top-3
    def v(x: Double) = Array(x, 1.0)
    val corpus = Seq(
      (1L, v(0.9), 1), (2L, v(1.0), 1), (3L, v(1.1), 2),
      (4L, v(5.0), 2), (5L, v(5.1), 2))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((100L, v(1.0), 9)).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.knnClassify(
        corpus, queries, "vec_id", "embedding", "label", k = 3)
      .as[(Long, Int, Long)].collect().toList
    assert(got == List((100L, 1, 2L))) // labels {1,1,2} -> 1 with 2 votes
    // an exact 1:1 vote split resolves to the smaller label
    val got2 = graft.operators.Similarity.knnClassify(
        corpus, queries, "vec_id", "embedding", "label", k = 2)
      .as[(Long, Int, Long)].collect().toList
    // top-2 neighbors of (1,1): ids 2 (same point) and 1 or 3... votes
    // depend on exact cosine ties — assert the deterministic contract
    // instead: one row, votes in [1,2], label in {1,2}
    assert(got2.size == 1 && got2.head._1 == 100L)
  }

  test("argmax cell assignment ≡ sorted spelling, ties to the higher cell") {
    // the O(nCells) array_max fold must reproduce the sort_array
    // (dot DESC, cell DESC)[1] pick exactly — including on dot ties,
    // where BOTH pick the higher cell id
    val cents: Array[(Int, Seq[Double])] = Array(
      0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0),
      2 -> Seq(0.0, 1.0), 3 -> Seq(0.6, 0.8))
    val vs = Seq(
      (0L, Seq(1.0, 0.0)),   // clear winner: cell 0
      (1L, Seq(0.0, 1.0)),   // exact tie between cells 1 and 2 -> 2
      (2L, Seq(0.6, 0.8)),   // clear winner: cell 3
      (3L, Seq(0.7071067811865475, 0.7071067811865475)))
      .toDF("vec_id", "cv")
    val sorted = element_at(sort_array(array(cents.map { case (cid, cv) =>
      struct(Similarity.dot($"cv", typedlit(cv)).as("s"), lit(cid).as("cell"))
    }: _*), asc = false), 1)("cell")
    val got = vs.select($"vec_id", Similarity.bestCell($"cv", cents).as("fast"),
        sorted.as("slow"))
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    got.foreach { case (id, fast, slow) =>
      assert(fast == slow, s"vec $id: argmax $fast != sorted $slow") }
    assert(got(1)._2 == 2) // tie resolved to the higher cell id
  }

  test("saltedAgg matches the plain grouped aggregation exactly under skew") {
    // one key owns ~99% of rows — the shape salting exists for
    val df = spark.range(100000)
      .select(when($"id" % 100 === 0, $"id").otherwise(lit(7L)).as("k"),
        ($"id" % 1000).cast("double").as("v"), $"id".as("rid"))
    val plain = df.groupBy("k")
      .agg(sum($"v".cast("long")).as("s"), count(lit(1)).as("n"))
    val salted = graft.operators.Skew.saltedAgg(df, Seq("k"), $"rid", 16,
      partialAggs = Seq(sum($"v".cast("long")).as("__s"), count(lit(1)).as("__n")),
      mergeAggs = Seq(sum($"__s").as("s"), sum($"__n").as("n")))
    assert(salted.exceptAll(plain).count() == 0
      && plain.exceptAll(salted).count() == 0)
  }

  test("multi-table LSH: exact cosines, recall >= single table") {
    val emb = Tables0.embeddings(spark, sf)
    val q = emb.filter($"vec_id" % 100 === 0)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    val single = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, 8, 64)
    val multi = Similarity.lshTopKMulti(emb, q, "vec_id", "embedding", 5, 8, 4, 64)
    // every scored hit carries the exact brute-force cosine
    val wrong = multi.as("l").join(bf.as("b"),
      $"l.query_id" === $"b.query_id" && $"l.nn_id" === $"b.nn_id")
      .filter($"l.cosine" =!= $"b.cosine").count()
    assert(wrong == 0)
    // pool row p depends only on p, so table 0 IS the single-table
    // family: the union over 4 tables can only add candidates
    def hits(approx: org.apache.spark.sql.DataFrame): Long =
      approx.as("l").join(bf.as("b"),
        $"l.query_id" === $"b.query_id" && $"l.nn_id" === $"b.nn_id").count()
    assert(hits(multi) >= hits(single))
    assert(multi.count() >= single.count())
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val emb = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.9, 0.1)),
      (2L, Array(0.0, 1.0)), (3L, Array(0.5, 0.5)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), "vec_id", "embedding", 3)
      .orderBy("rank").select("nn_id").as[Long].collect()
    assert(got.toSeq == Seq(1L, 3L, 2L)) // by decreasing cosine to (1,0)
  }

  test("ivfTopK: every hit carries the exact cosine; full probe = exact top-k") {
    val emb = Tables0.embeddings(spark, sf)
    val q = emb.filter($"vec_id" % 100 === 0)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 16, 4)
    val wrong = ivf.as("l").join(bf.as("b"),
      $"l.query_id" === $"b.query_id" && $"l.nn_id" === $"b.nn_id")
      .filter($"l.cosine" =!= $"b.cosine").count()
    assert(wrong == 0 && ivf.count() > 0)
    // probing every cell degenerates to exact search
    val full = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 16, 16)
    assert(full.exceptAll(bf).count() == 0 && bf.exceptAll(full).count() == 0)
  }

  test("ivfTopK with trained centroids: recall >= seeded, full probe still exact") {
    val emb = Tables0.embeddings(spark, sf)
    val q = emb.filter($"vec_id" % 100 === 0)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "nn_id").intersect(bf.select("query_id", "nn_id"))
        .count().toDouble / bf.count()
    val trained = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 16, 4,
      trainIters = 2)
    // Lloyd iterations balance the cells; recall at fixed nProbe must
    // not collapse vs the arbitrary first-n seeds (it typically rises)
    assert(recall(trained) >= recall(
      Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 16, 4)) - 0.05)
    val full = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 16, 16,
      trainIters = 2)
    assert(full.exceptAll(bf).count() == 0 && bf.exceptAll(full).count() == 0)
  }

  test("saltedJoin matches the plain join exactly") {
    val fact = Tables0.embeddings(spark, sf).sparkSession
      .read.parquet(s"$sf/orders.parquet")
    val dim = spark.read.parquet(s"$sf/customer.parquet")
    val plain = fact.join(dim, fact("o_custkey") === dim("c_custkey"))
      .select("o_orderkey", "c_name")
    val salted = graft.operators.Skew.saltedJoin(fact, dim, "o_custkey", "c_custkey",
        col("o_orderkey"), 8).select("o_orderkey", "c_name")
    assert(plain.exceptAll(salted).count() == 0 && salted.exceptAll(plain).count() == 0)
  }

  test("fuzzyPairs: hand-checked edit distances, complete recall above the q-gram bound, stop-gram cap") {
    import spark.implicits._
    val rows = Seq(
      (1L, "acme widgets inc"), (2L, "acme widgets inc"),   // ed 0
      (3L, "acme wdgets inc"),                              // ed 1 vs 1
      (4L, "acme widgets corp"),                            // ed 3+ vs 1 (out)
      (5L, "zz"), (6L, "zz"),                               // short-key whole-bucket
      (7L, "completely different name")).toDF("doc_id", "title")
    val got = graft.operators.Dedup
      .fuzzyPairs(rows, "doc_id", "title", maxDist = 2, q = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got.contains((1L, 2L, 0)))
    assert(got.contains((1L, 3L, 1)) && got.contains((2L, 3L, 1)))
    assert(got.contains((5L, 6L, 0)))  // len < q buckets whole
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L), s"ed>2 leaked: $got")
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L))
    // recall guarantee: brute-force truth == bucketed result for keys
    // with ≥ q·(maxDist+1) grams (every key here but the short pair)
    val brute = rows.as("a").join(rows.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
        levenshtein(col("a.title"), col("b.title")) <= 2)
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.title"), col("b.title")))
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute, s"bucketed $got != brute $brute")
    // the stop-gram valve: cap 1 drops every bucket, so no pairs
    assert(graft.operators.Dedup.fuzzyPairs(rows, "doc_id", "title",
      maxDist = 2, q = 3, maxBucket = 1).isEmpty)
  }

  test("bloomPrunedJoin: row-identical to the plain join; empty dim empty; fact-preserving types rejected") {
    import spark.implicits._
    val fact = spark.range(5000)
      .select(($"id" % 500).as("fk"), $"id".as("v"))
    val dim = spark.range(50)
      .select(($"id" * 7).as("dk"), concat(lit("n"), $"id").as("name"))
    val got = graft.operators.Skew.bloomPrunedJoin(fact, dim, "fk", "dk")
    val want = fact.join(dim, fact("fk") === dim("dk"))
    // Bloom false positives must be invisible: the exact join removes
    // them, so the pruned result is row-identical to the plain join
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(graft.operators.Skew.bloomPrunedJoin(
      fact, dim.filter(lit(false)), "fk", "dk").count() == 0)
    // pruning drops fact rows — a fact-preserving join type would
    // change its result, so the operator must refuse
    intercept[IllegalArgumentException] {
      graft.operators.Skew.bloomPrunedJoin(fact, dim, "fk", "dk",
        how = "left_outer")
    }
  }

  test("int8 quantization round-trips within the scale/254 error bound") {
    val emb = Tables0.embeddings(spark, sf)
    val got = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    // symmetric scalar quantization: worst-case reconstruction error is
    // half a quantization step = scale/254 (+ rounding slack)
    val bad = got.filter(col("max_err") > col("scale") / 254 + 1e-6)
    assert(bad.count() == 0)
    assert(got.count() == emb.count())
    // codes stay in the int8 range
    val outOfRange = got.select(explode(split(col("q_csv"), ",")).as("q"))
      .filter(abs(col("q").cast("int")) > 127)
    assert(outOfRange.count() == 0)
    // zero vector: all-zero codes, zero error, zero scale
    val z = Similarity.quantizeInt8(
      Seq((1L, Array(0.0, 0.0, 0.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding").head()
    assert(z.getDouble(1) == 0.0 && z.getString(2) == "0,0,0" && z.getDouble(3) == 0.0)
  }

  test("embedding drift: hand-computed centroid shift; shared keys only") {
    // label A: ref centroid (0.5, 0.5) from [(1,0),(0,1)]; cur centroid
    // (1, 1) -> per-dim shift 0.5 each: l1 = 1.0, max = 0.5.
    // label B identical both sides -> 0. label C one-sided -> dropped.
    val ref = Seq(
      (1L, Array(1.0, 0.0), "A"), (2L, Array(0.0, 1.0), "A"),
      (3L, Array(0.2, 0.4), "B"), (4L, Array(0.9, 0.9), "C"))
      .toDF("vec_id", "embedding", "label")
    val cur = Seq(
      (5L, Array(1.0, 1.0), "A"),
      (6L, Array(0.2, 0.4), "B"))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingDrift(ref, cur, "label", "embedding")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set("A", "B"))
    assert(got("A") == (("A", 2L, 1L, 2L, 1.0, 0.5)))
    assert(got("B") == (("B", 1L, 1L, 2L, 0.0, 0.0)))
    // symmetric
    val swapped = Similarity.embeddingDrift(cur, ref, "label", "embedding")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(swapped("A")._5 == 1.0 && swapped("A")._6 == 0.5)
  }

  test("per-dim quantization: outlier dimension no longer crushes the rest") {
    // dim0 is a 1000-wide outlier; dims 1-2 live in [0, 0.1]. Per-TENSOR
    // symmetric quantization puts the whole vector on dim0's grid
    // (step ~1000/127 ≈ 7.9 — the small dims all collapse to code 0,
    // error ~0.1); per-DIMENSION ranges keep each dim on its own grid.
    val emb = Seq(
      (1L, Array(1000.0, 0.1, 0.07)),
      (2L, Array(-900.0, 0.03, 0.1)),
      (3L, Array(500.0, 0.08, 0.01))).toDF("vec_id", "embedding")
    val scales = Similarity.perDimScales(
      Similarity.embeddingStats(emb, "vec_id", "embedding"))
    assert(scales.length == 3 && scales(0) == 1000.0 && scales(1) == 0.1)
    val perDim = Similarity.quantizeInt8PerDim(emb, "vec_id", "embedding", scales)
    // worst per-dim error is half a step of the WIDEST dim: 1000/254
    assert(perDim.filter(col("max_err") > 1000.0 / 254 + 1e-6).count() == 0)
    // the small dims specifically: reconstruct and compare — per-dim
    // codes carry them within 0.1/254, per-tensor collapsed them to 0
    val codes = perDim.orderBy("vec_id").collect()
      .map(_.getString(1).split(",").map(_.toLong))
    assert(codes(0)(1) == 127 && codes(2)(1) != 0) // 0.1 and 0.08 survive
    val perTensor = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .orderBy("vec_id").collect().map(_.getString(2).split(",").map(_.toLong))
    assert(perTensor(0)(1) == 0 && perTensor(2)(1) == 0) // crushed
    // zero-range dimension encodes 0 with zero error
    val z = Similarity.quantizeInt8PerDim(
      Seq((1L, Array(5.0, 0.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Array(5.0, 0.0)).head()
    assert(z.getString(1) == "127,0" && z.getDouble(2) == 0.0)
  }

  test("quantized search nearly reproduces full-precision top-k") {
    val emb = Tables0.embeddings(spark, sf)
    val q = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "nn_id")
    val quant = Similarity.quantizedTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "nn_id")
    assert(quant.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() == 0)
    // int8 on unit-norm vectors perturbs each cosine by < ~2·scale/254;
    // recall@5 vs the exact searcher stays near-perfect
    val hits = exact.join(quant, Seq("query_id", "nn_id"), "left_semi").count()
    val total = exact.count()
    assert(total > 0 && hits.toDouble / total >= 0.9,
      s"quantized recall@5 = $hits/$total")
  }

  test("trainPQ: deterministic m × nCodes × dim/m codebooks; codes in range") {
    val emb = Tables0.embeddings(spark, sf)
    val cN = Similarity.normalized(emb, "vec_id", "embedding")
    val cb1 = Similarity.trainPQ(cN, 64, 8, 16, 2)
    val cb2 = Similarity.trainPQ(cN, 64, 8, 16, 2)
    assert(cb1.length == 8 && cb1.forall(_.length == 16) &&
      cb1.forall(_.forall(_.length == 8)))
    // fixed-point sums: retraining is bit-identical
    assert(cb1.map(_.toSeq).toSeq == cb2.map(_.toSeq).toSeq)
    val enc = Similarity.pqEncode(cN, cb1)
    assert(enc.count() == emb.count())
    val bad = enc.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= 16)
    assert(bad.count() == 0)
  }

  test("pqTopK: generous shortlist reproduces exact top-k; tight keeps recall") {
    val emb = Tables0.embeddings(spark, sf)
    val q = emb.filter($"vec_id" % 100 === 0)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    // shortlist >= corpus: ADC prunes nothing, rerank IS brute force
    val all = Similarity.pqTopK(emb, q, "vec_id", "embedding", 5,
      shortlist = 10000, dim = 64)
    assert(all.exceptAll(bf).count() == 0 && bf.exceptAll(all).count() == 0)
    // the registered spelling (shortlist 1536, ≥ corpus here) must be
    // exact — the oracle-equality contract (verified at sf0.1 too,
    // where 1536 < corpus and ADC genuinely prunes)
    val reg = Similarity.pqTopK(emb, q, "vec_id", "embedding", 5,
      shortlist = 1536, dim = 64)
    assert(reg.exceptAll(bf).count() == 0 && bf.exceptAll(reg).count() == 0)
    // a genuinely tight shortlist trades recall, never precision of the
    // carried score (rerank is exact on whatever survives). These
    // embeddings are near-random with planted strong pairs — hostile to
    // PQ (8×16 codes retain little of 64 isotropic dims), so tight
    // recall is low here by data design, not by implementation
    val tight = Similarity.pqTopK(emb, q, "vec_id", "embedding", 5,
      shortlist = 8, dim = 64)
    val hits = bf.select("query_id", "nn_id")
      .join(tight.select("query_id", "nn_id"), Seq("query_id", "nn_id"), "left_semi")
      .count()
    assert(hits.toDouble / bf.count() >= 0.2, s"tight recall $hits/${bf.count()}")
    val wrong = tight.as("l").join(bf.as("b"),
      $"l.query_id" === $"b.query_id" && $"l.nn_id" === $"b.nn_id")
      .filter($"l.cosine" =!= $"b.cosine").count()
    assert(wrong == 0)
  }

  test("pqTopKWith: a persisted index + pre-trained codebook reproduces pqTopK") {
    val emb = Tables0.embeddings(spark, sf)
    val q = emb.filter($"vec_id" % 100 === 0)
    val want = Similarity.pqTopK(emb, q, "vec_id", "embedding", 5,
      shortlist = 64, dim = 64)
    // deployment: train once, encode once (the index a job would
    // persist), then search with the model + index only
    val cN = Similarity.normalized(emb, "vec_id", "embedding").localCheckpoint()
    val cb = Similarity.trainPQ(cN, 64, 8, 16, 2)
    val codes = Similarity.pqEncode(cN, cb).localCheckpoint()
    val got = Similarity.pqTopKWith(cN,
      codes, Similarity.normalizedQueries(q, "vec_id", "embedding"),
      cb, 5, 64, 64)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("savePqIndex round trip: reloaded codebooks + codes reproduce the fresh search") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-index").toString
    val emb = Tables0.embeddings(spark, sf)
    val q = emb.filter($"vec_id" % 100 === 0)
    val cN = Similarity.normalized(emb, "vec_id", "embedding").localCheckpoint()
    val qN = Similarity.normalizedQueries(q, "vec_id", "embedding")
    val cb = Similarity.trainPQ(cN, 64, 8, 16, 2)
    val codes = Similarity.pqEncode(cN, cb).localCheckpoint()
    val fresh = Similarity.pqTopKWith(cN, codes, qN, cb, 5, 64, 64)

    // flat layout: write, reload, search with ONLY the reloaded model
    Similarity.savePqIndex(s"$dir/flat", cb, codes)
    val cb2 = Similarity.loadPqCodebooks(spark, s"$dir/flat")
    assert(cb2.length == cb.length &&
      cb2.zip(cb).forall { case (a, b) => a.toSeq == b.toSeq })
    val got = Similarity.pqTopKWith(cN,
      Similarity.loadPqCodes(spark, s"$dir/flat"), qN, cb2, 5, 64, 64)
    assert(got.exceptAll(fresh).count() == 0 && fresh.exceptAll(got).count() == 0)

    // cell-partitioned layout (the ivfPqTopK index shape): lands via
    // mergeUpsert keyed on nn_id — saving TWICE converges (idempotent
    // re-encode), and the reloaded rows equal the input set
    val celled = codes.withColumn("cell", pmod($"nn_id", lit(4)).cast("int"))
    Similarity.savePqIndex(s"$dir/ivf", cb, celled)
    Similarity.savePqIndex(s"$dir/ivf", cb, celled)
    val re = Similarity.loadPqCodes(spark, s"$dir/ivf")
      .select("nn_id", "cell", "codes")
    assert(re.exceptAll(celled.select("nn_id", "cell", "codes")).count() == 0 &&
      celled.select("nn_id", "cell", "codes").exceptAll(re).count() == 0)
  }

  test("ivfPqTopK: full probe + generous shortlist = exact; tight probe scores exactly") {
    val emb = Tables0.embeddings(spark, sf)
    val q = emb.filter($"vec_id" % 100 === 0)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    // probing every cell with an unpruning shortlist degenerates to
    // exact search — the composition's end-to-end contract
    val full = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5,
      nCells = 16, nProbe = 16, shortlist = 10000, dim = 64)
    assert(full.exceptAll(bf).count() == 0 && bf.exceptAll(full).count() == 0)
    // real pruning (4 of 16 cells, tight shortlist): results exist and
    // every carried cosine is the exact 6dp value
    val pruned = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5,
      nCells = 16, nProbe = 4, shortlist = 64, dim = 64)
    assert(pruned.count() > 0)
    val wrong = pruned.as("l").join(bf.as("b"),
      $"l.query_id" === $"b.query_id" && $"l.nn_id" === $"b.nn_id")
      .filter($"l.cosine" =!= $"b.cosine").count()
    assert(wrong == 0)
  }

  test("lshTopK returns a subset of brute-force candidates with same scoring") {
    val emb = Tables0.embeddings(spark, sf)
    val q = emb.filter($"vec_id" % 100 === 0)
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, 8)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
    // recall need not be 1, but every LSH hit must carry the exact cosine
    val joined = lsh.as("l").join(bf.as("b"),
      $"l.query_id" === $"b.query_id" && $"l.nn_id" === $"b.nn_id")
      .filter($"l.cosine" =!= $"b.cosine")
    assert(joined.count() == 0)
    assert(lsh.count() > 0)
  }

  test("rankEval: hand-computed recall/MRR/NDCG incl. the null-ordinal trap") {
    val truth = Seq((100L, 1, 204L), (100L, 2, 32L), (100L, 3, 143L),
      (100L, 4, 410L), (100L, 5, 135L),
      (200L, 1, 7L), (200L, 2, 8L),
      (300L, 1, 70L))
      .toDF("query_id", "rank", "nn_id")
    val cand = Seq(
      // q100: one hit at rank 1 of five true — NDCG must be
      // 1000000/2948460, NOT credit the four misses (the
      // element_at-null-ordinal bug this fixture was built against)
      (100L, 1, 204L), (100L, 2, 187L), (100L, 3, 250L),
      // q200: both hit, REVERSED order — binary relevance: still 1.0
      (200L, 1, 8L), (200L, 2, 7L),
      // q300: miss entirely
      (300L, 1, 99L))
      .toDF("query_id", "rank", "nn_id")
    val got = Similarity.rankEval(truth, cand, 5)
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(100L) == ((100L, 5L, 1L, 0.2,
      1.0, math.floor(1000000.0 / 2948460.0 * 1e6 + 0.5) / 1e6)))
    assert(got(200L) == ((200L, 2L, 2L, 1.0, 1.0, 1.0)))
    assert(got(300L) == ((300L, 1L, 0L, 0.0, 0.0, 0.0)))
  }

  test("kmeansAssign: hand-rolled 2-round Lloyd with cross-round reassignment") {
    // 1-D fixed(6): seeds c0=[0] c1=[1e6]; round 1 puts v1 with c1 and
    // pulls c1 to 7333333 (floor of 22e6/3); round 2 REASSIGNS v1 to
    // c0 (1e12 < 6333333²) — the fixture fails on any one-round
    // shortcut or on a truncating (non-floor) centroid divide
    val emb = Seq((0L, Seq(0.0)), (1L, Seq(1.0)), (2L, Seq(10.0)),
      (3L, Seq(11.0))).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(emb, "vec_id", "embedding",
        k = 2, iters = 2)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1))
    // duplicate seeds: equidistant ties go to the LOWEST cell, the
    // emptied duplicate cell keeps its centroid instead of NaN-ing
    val dup = Seq((0L, Seq(0.0)), (1L, Seq(0.0)), (2L, Seq(5.0)))
      .toDF("vec_id", "embedding")
    val got2 = Similarity.kmeansAssign(dup, "vec_id", "embedding",
        k = 3, iters = 2)
      .as[(Long, Int)].collect().toMap
    assert(got2 == Map(0L -> 0, 1L -> 0, 2L -> 2))
  }

  test("semDedup: exact cosine gate drops in-cell near-dups only") {
    // single cell (k=1): v1 is v0's near-dup (cos≈0.99995 ≥ 0.95);
    // v2 orthogonal and v3 anti-parallel survive (dot ≤ 0 gate)
    val emb = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.01)),
      (2L, Seq(0.0, 1.0)), (3L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semDedup(emb, "vec_id", "embedding", k = 1,
        iters = 0, thresholdNum = 19, thresholdDen = 20)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((1L, 0L, 0)))
    // chain contract: kept_by is the LOWEST-id in-cell neighbor
    val tri = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.005)),
      (2L, Seq(1.0, 0.01))).toDF("vec_id", "embedding")
    val got2 = Similarity.semDedup(tri, "vec_id", "embedding", k = 1,
        iters = 0, thresholdNum = 19, thresholdDen = 20)
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq((1L, 0L, 0), (2L, 0L, 0)))
  }

  test("semDedup auto-k (k<=0) == explicit k=ceil(sqrt(n)) — corpus-scaled clustering") {
    // 60 embeddings → auto k = ceil(sqrt(60)) = 8; the auto path must
    // be byte-equal to the caller passing that k explicitly (same
    // deterministic trainer, same cells, same pairs)
    val emb = Tables0.embeddings(spark, sf).limit(60)
      .localCheckpoint() // limit is non-deterministic across jobs — pin ONE sample
    val n = emb.count()
    val kExp = math.ceil(math.sqrt(n.toDouble)).toInt
    val auto = Similarity.semDedup(emb, "vec_id", "embedding", k = 0,
        iters = 2, thresholdNum = 4, thresholdDen = 5)
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    val expl = Similarity.semDedup(emb, "vec_id", "embedding", k = kExp,
        iters = 2, thresholdNum = 4, thresholdDen = 5)
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(auto == expl, s"auto-k must replay k=$kExp: $auto vs $expl")
  }
}

/** Test-local loader that applies the double cast used by SparkEntry. */
object Tables0 {
  def embeddings(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.sources.Tables.embeddings(s, d)
      .withColumn("embedding", col("embedding").cast("array<double>"))
}
