package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — the query set is broadcast (it
  * is small by construction) and every corpus partition scores its own
  * rows in one codegen'd pass; a bounded per-query heap
  * ([[graft.plans.TopKPerKey]], applied map-side then post-shuffle)
  * keeps top-k. At 100 TB corpus this is one broadcast + one scan + one
  * k-bounded shuffle — and never a per-group sort.
  *
  * Scale path: random-hyperplane LSH — `numBits` deterministic
  * hyperplanes hash each vector to a bucket; probing joins only matching
  * buckets, cutting the scored candidates from |corpus| to bucket mass.
  */
object Similarity {

  /** Sequential left-fold dot product — a native codegen'd
    * [[graft.functions.expressions.VectorDot]] with the same
    * accumulation order as the oracle engine, so results match
    * bit-for-bit before rounding. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.VectorDot(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  def l2normalize(v: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.L2Normalize(
        org.apache.spark.sql.graft.ColumnBridge.expression(v)))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Canonical normalized corpus frame `(nn_id, cv)` — the shape every
    * `*TopKNormed` searcher consumes. A caller composing SEVERAL
    * searchers over one corpus (the recall report, an index-quality
    * sweep) should build this ONCE, `localCheckpoint()` it, and hand the
    * same frame to each searcher: at corpus scale the scan+normalize IS
    * the dominant cost, and without a shared materialization every
    * searcher independently re-plans it (8 corpus scans in one plan,
    * measured, before f4 switched to this seam). */
  def normalized(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id).as("nn_id"), l2normalize(col(vec)).as("cv"))

  /** Normalized query frame `(query_id, qv)` — the broadcast side. */
  def normalizedQueries(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id).as("query_id"), l2normalize(col(vec)).as("qv"))

  /** Every searcher's shared tail: keep the k best-scored candidates
    * per query, ranked. Spelled through the bounded-heap
    * [[graft.plans.TopKPerKey]] operator UNCONDITIONALLY — not the
    * `row_number().over(window)` idiom — so the scale shape (map-side
    * k-cap per query, no per-group sort, exchange carries ≤ #partitions
    * × k rows per query) does not depend on the opt-in
    * `spark.graft.rewriteTopK` flag or on Spark's sort-based
    * `WindowGroupLimit` fallback. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerKey(scored,
      keys = Seq(col("query_id")),
      order = Seq(col("cosine").desc, col("nn_id").asc),
      k = k, rankName = "rank")
      .select("query_id", "rank", "nn_id", "cosine")

  /** Exact top-k neighbors for each query vector (excluding self).
    * Ranking uses the cosine rounded to 6dp with an id tie-break so the
    * result is engine-stable. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
                     vec: String, k: Int): DataFrame =
    bruteForceTopKNormed(normalized(corpus, id, vec),
      normalizedQueries(queries, id, vec), k)

  /** As [[bruteForceTopK]] over pre-normalized `(nn_id, cv)` /
    * `(query_id, qv)` frames. */
  def bruteForceTopKNormed(c: DataFrame, q: DataFrame, k: Int): DataFrame =
    topKPerQuery(
      c.join(broadcast(q), col("query_id") =!= col("nn_id"))
        .withColumn("cosine",
          graft.functions.Portable.pround(dot(col("qv"), col("cv")), 6)),
      k)

  /** k-NN majority-vote classification (F17) — the embedding-space
    * weak labeler every curation pipeline eventually runs ("label the
    * unlabeled pool from its nearest labeled neighbors"): each query's
    * exact top-k cosine neighbors (the f1 brute-force contract —
    * 6dp-rounded scores, id tie-break, self excluded) vote with their
    * labels; the majority wins, ties to the smaller label — fully
    * deterministic, hence oracle-reproducible, unlike distance-weighted
    * votes whose float sums drift across engines. Exactness over the
    * candidate set is the point here (this is the quality BASELINE the
    * approximate searchers are judged against); at corpus scale swap
    * the scorer for [[ivfPqTopKWith]] and keep the same vote tail.
    *
    * Shape: one broadcast of the query block + codegen'd dot products,
    * the bounded-heap top-k, then a votes agg (≤ k rows per query) and
    * a second 1-row heap — everything after scoring is query-sized. */
  def knnClassify(corpus: DataFrame, queries: DataFrame, id: String,
                  vec: String, label: String, k: Int): DataFrame = {
    val c = corpus.select(col(id).as("nn_id"), col(label).as("__lbl"),
      l2normalize(col(vec)).as("cv"))
    val q = normalizedQueries(queries, id, vec)
    val scored = c.join(broadcast(q), col("query_id") =!= col("nn_id"))
      .withColumn("cosine",
        graft.functions.Portable.pround(dot(col("qv"), col("cv")), 6))
    val top = graft.plans.TopKPerKey(scored,
        keys = Seq(col("query_id")),
        order = Seq(col("cosine").desc, col("nn_id").asc),
        k = k, rankName = "rank")
      .select("query_id", "__lbl")
    val votes = top
      .groupBy(col("query_id"), col("__lbl").as("predicted_label"))
      .agg(count(lit(1)).as("votes"))
    graft.plans.TopKPerKey(votes, keys = Seq(col("query_id")),
        order = Seq(col("votes").desc, col("predicted_label").asc),
        k = 1, rankName = "__r")
      .drop("__r")
  }

  /** Matryoshka cascade search (F18) — the two-tier search pattern
    * MRL-trained embeddings exist for (Kusupati et al., "Matryoshka
    * Representation Learning": information concentrates in the leading
    * dimensions, so a PREFIX of the vector is itself a usable
    * embedding): score every candidate on the first `mDims` dimensions
    * only (prefix re-normalized over itself — the MRL contract), keep
    * the top `candidates` per query on that cheap coarse score, then
    * rerank ONLY the survivors with the exact full-dimension cosine
    * (the f1 contract: 6dp round, id tie-break, self excluded). Both
    * tiers are total orders, so the result is fully deterministic and
    * hash-checkable — this is a pruned cascade with stated recall
    * behavior (a true neighbor outside the coarse top-`candidates` is
    * missed; widen `candidates` to trade cost for recall), not a
    * probabilistic sketch.
    *
    * Scale shape: the corpus-side work per row drops from d to mDims
    * multiplies in the coarse stage (at 100 TB store only the prefix
    * in the hot tier); the full-width dot runs on `candidates`-bounded
    * survivors through the same bounded-heap tail as every searcher. */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, id: String,
                     vec: String, k: Int, mDims: Int,
                     candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    // accept float vectors: the cast mirrors the oracle's per-element
    // CAST AS DOUBLE before any norm (no-op on already-double input)
    def dv(c: Column) = c.cast("array<double>")
    val c = corpus.select(col(id).as("nn_id"),
      l2normalize(dv(col(vec))).as("cv"),
      l2normalize(slice(dv(col(vec)), 1, mDims)).as("pv"))
    val q = queries.select(col(id).as("query_id"),
      l2normalize(dv(col(vec))).as("qv"),
      l2normalize(slice(dv(col(vec)), 1, mDims)).as("pq"))
    val coarse = graft.plans.TopKPerKey(
      c.join(broadcast(q), col("query_id") =!= col("nn_id"))
        .withColumn("coarse",
          graft.functions.Portable.pround(dot(col("pq"), col("pv")), 6)),
      keys = Seq(col("query_id")),
      order = Seq(col("coarse").desc, col("nn_id").asc),
      k = candidates, rankName = "__crank")
    topKPerQuery(
      coarse.withColumn("cosine",
        graft.functions.Portable.pround(dot(col("qv"), col("cv")), 6)),
      k)
  }

  /** MMR-diversified top-k (F19) — maximal marginal relevance
    * (Carbonell & Goldstein '98), the diversity-aware rerank few-shot
    * example selection and dedup-aware retrieval want ("the 5 nearest
    * neighbors minus near-copies of each other"): greedily pick k of
    * the `poolSize` nearest candidates, each step maximizing
    * `(1−λ)·relevance − λ·max-similarity-to-already-selected` with a
    * deterministic (score desc, id asc) tie-break. λ = 0.5 keeps the
    * score arithmetic cross-engine exact (both multipliers are powers
    * of two over the 6dp-rounded cosines, so the IEEE subtraction has
    * identical operands in both engines) — the whole greedy is
    * hash-checkable, mirrored step-for-step by an UNROLLED oracle.
    *
    * The greedy runs as one in-row aggregate over each query's
    * collected pool (`poolSize` ≤ tens): one shuffle after the pool
    * build, no per-step barriers. The pool build itself is the f1
    * brute-force contract; swap in any searcher's candidates at
    * scale. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, id: String,
              vec: String, k: Int, poolSize: Int): DataFrame = {
    require(poolSize >= k, s"poolSize ($poolSize) must be >= k ($k)")
    def dv(c: Column) = c.cast("array<double>")
    val c = corpus.select(col(id).as("nn_id"),
      l2normalize(dv(col(vec))).as("cv"))
    val q = queries.select(col(id).as("query_id"),
      l2normalize(dv(col(vec))).as("qv"))
    val pool = graft.plans.TopKPerKey(
      c.join(broadcast(q), col("query_id") =!= col("nn_id"))
        .withColumn("cosine",
          graft.functions.Portable.pround(dot(col("qv"), col("cv")), 6)),
      keys = Seq(col("query_id")),
      order = Seq(col("cosine").desc, col("nn_id").asc),
      k = poolSize, rankName = "__pr")
      .select(col("query_id"), col("nn_id"), col("cosine"), col("cv"))
    // The greedy runs IN-ROW over each query's collected pool (r17):
    // the old spelling unrolled k declarative stages — a pool²-sized
    // sims self-join plus, per step, a bounded-heap top-1, an
    // anti-join, a max-sim join and a lazy checkpoint: ~8 barriered
    // materializations and ~15 joins per query set, all over frames of
    // (queries × ≤poolSize) rows. The pool is ≤ tens of rows per query
    // BY CONTRACT, so the whole selection fits one aggregate expression
    // per query row: k steps, each an argmax by (score desc, nn_id asc)
    // over the un-selected candidates, scoring 0.5·cosine − 0.5·max-sim
    // against the selected set. The arithmetic is the SAME expressions
    // (VectorDot, pround 6dp, 0.5·a − 0.5·b) over the same operands —
    // bit-identical picks, oracle-gated; one shuffle (the grouped
    // collect) replaces every per-step barrier, and at scale the
    // rerank is embarrassingly parallel per query instead of k global
    // stages.
    val cands = pool.groupBy(col("query_id"))
      .agg(collect_list(struct(col("nn_id"), col("cosine"), col("cv")))
        .as("cand"))
    def sc(cd: Column, sel: Column): Column =
      when(size(sel) === 0, cd.getField("cosine"))
        .otherwise(lit(0.5) * cd.getField("cosine") - lit(0.5) *
          array_max(transform(sel, s => graft.functions.Portable.pround(
            dot(cd.getField("cv"), s.getField("cv")), 6))))
    // accumulator/empty values piggyback on slice(…, 1, 0) so the
    // element types are EXACTLY the pool struct's — no hand-built casts
    def scoredShape(cd: Column, s: Column) = struct(
      cd.getField("nn_id").as("nn_id"), cd.getField("cosine").as("cosine"),
      cd.getField("cv").as("cv"), s.as("score"))
    val emptyScored =
      slice(transform(col("cand"), cd => scoredShape(cd, lit(0.0d))), 1, 0)
    def pick(sel: Column): Column = aggregate(col("cand"), emptyScored,
      (acc, cd) => {
        val s = sc(cd, sel)
        val taken = exists(sel, x => x.getField("nn_id") === cd.getField("nn_id"))
        val best = element_at(acc, 1)
        val better = size(acc) === 0 || s > best.getField("score") ||
          (s === best.getField("score") &&
            cd.getField("nn_id") < best.getField("nn_id"))
        when(!taken && better, array(scoredShape(cd, s))).otherwise(acc)
      })
    val sel = aggregate(sequence(lit(1), lit(k)), slice(col("cand"), 1, 0),
      (s, _) => {
        val p = pick(s)
        when(size(p) === 1, concat(s, array(struct(
          element_at(p, 1).getField("nn_id").as("nn_id"),
          element_at(p, 1).getField("cosine").as("cosine"),
          element_at(p, 1).getField("cv").as("cv"))))).otherwise(s)
      })
    cands.select(col("query_id"), posexplode(sel).as(Seq("__pos", "__s")))
      .select(col("query_id"), (col("__pos") + 1).cast("int").as("rank"),
        col("__s.nn_id").as("nn_id"), col("__s.cosine").as("cosine"))
  }

  /** FILTERED vector search — the production "metadata predicate +
    * top-k" shape: each query's neighbors come ONLY from corpus rows
    * sharing its `attr` value. The attribute IS the join key, so the
    * all-pairs cross product of brute force collapses to per-attribute
    * blocks (a broadcast hash equi-join on the attribute; corpus rows
    * outside a query's block are hash-rejected, never scored), while
    * scoring keeps the same codegen'd dot product. Exact within the
    * filtered set — it IS brute force per block — so the oracle stays
    * SQL-expressible, unlike approximate searchers. At scale the block
    * structure is the contract: a selective attribute bounds each
    * query's work to its block; a single-value attribute degrades to
    * full brute force (the caller's schema choice). For a query set too
    * big to broadcast, drop the hint and the same plan becomes a
    * co-partitioned shuffle join on the attribute. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, id: String,
                   vec: String, attr: String, k: Int): DataFrame = {
    val c = corpus.select(col(id).as("nn_id"), col(attr).as("__ca"),
      l2normalize(col(vec)).as("cv"))
    val q = queries.select(col(id).as("query_id"), col(attr).as("__qa"),
      l2normalize(col(vec)).as("qv"))
    topKPerQuery(
      c.join(broadcast(q),
          col("__qa") === col("__ca") && col("query_id") =!= col("nn_id"))
        .withColumn("cosine",
          graft.functions.Portable.pround(dot(col("qv"), col("cv")), 6)),
      k)
  }

  /** Deterministic pseudo-random hyperplanes, generated driver-side with
    * a splitmix64 mix of (plane, dim) — a pure function, so every run
    * (and every executor) derives identical planes with zero per-row
    * hashing cost: the coefficients ship as array literals. */
  private[graft] def planes(numBits: Int, dim: Int): Array[Array[Double]] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.tabulate(numBits, dim)((p, i) =>
      mix(p.toLong * 1000003L + i).toDouble / Long.MaxValue.toDouble / 2.0)
  }

  /** Random-hyperplane LSH bucket id over `numBits` literal planes. */
  def lshBucket(vec: Column, numBits: Int, dim: Int): Column =
    (0 until numBits).map { p =>
      val proj = dot(vec, typedlit(planes(numBits, dim)(p).toSeq))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucket id for hash TABLE `table` of a multi-table family: table t
    * uses the global plane rows [t·numBits, (t+1)·numBits) of one
    * deterministic `planes(numTables·numBits, dim)` pool, so every
    * table's planes are independent and every run/engine derives the
    * identical family. Table 0 of a 1-table family IS [[lshBucket]]. */
  private[graft] def lshBucketAt(vec: Column, numBits: Int, numTables: Int,
                                 dim: Int, table: Int): Column = {
    val pool = planes(numTables * numBits, dim)
    (0 until numBits).map { p =>
      val proj = dot(vec, typedlit(pool(table * numBits + p).toSeq))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN via LSH: score only corpus rows in the query's bucket. Same
    * output shape as [[bruteForceTopK]]; recall < 1 by design. The
    * embedding dimension is probed with a one-row driver lookup (as
    * Spark ML estimators do) so plane literals can be baked in. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, numBits: Int): DataFrame =
    lshTopK(corpus, queries, id, vec, k, numBits,
      corpus.select(size(col(vec))).head().getInt(0))

  /** As above with the embedding dimension supplied by the caller,
    * skipping the one-row probe job. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, numBits: Int, dim: Int): DataFrame =
    lshTopKNormed(normalized(corpus, id, vec),
      normalizedQueries(queries, id, vec), k, numBits, dim)

  /** As [[lshTopK]] over pre-normalized frames. */
  def lshTopKNormed(c0: DataFrame, q0: DataFrame, k: Int, numBits: Int,
                    dim: Int): DataFrame = {
    val c = c0.withColumn("bucket", lshBucket(col("cv"), numBits, dim))
    val q = q0.withColumn("bucket", lshBucket(col("qv"), numBits, dim))
    topKPerQuery(
      c.join(broadcast(q), Seq("bucket"))
        .filter(col("query_id") =!= col("nn_id"))
        .withColumn("cosine",
          graft.functions.Portable.pround(dot(col("qv"), col("cv")), 6)),
      k)
  }

  /** MULTI-TABLE LSH ANN — the standard recall lever a single hash
    * table lacks: `numTables` independent hyperplane tables, a
    * candidate is scored when it collides with the query in ANY table
    * (union of per-table bucket joins), so recall rises roughly as
    * 1-(1-p^b)^L while cost stays bucket-local. Spark shape: ONE
    * posexplode over the per-table bucket array (rows = numTables ×
    * |corpus|, shuffled on the (table, bucket) key — no per-table
    * passes), broadcast query side, cosine computed before the
    * (query, candidate) dedup so `distinct` runs on small scalar rows.
    * Same output shape as [[bruteForceTopK]]. */
  def lshTopKMulti(corpus: DataFrame, queries: DataFrame, id: String,
                   vec: String, k: Int, numBits: Int, numTables: Int,
                   dim: Int): DataFrame =
    lshTopKMultiNormed(normalized(corpus, id, vec),
      normalizedQueries(queries, id, vec), k, numBits, numTables, dim)

  /** As [[lshTopKMulti]] over pre-normalized frames. */
  def lshTopKMultiNormed(c0: DataFrame, q0: DataFrame, k: Int, numBits: Int,
                         numTables: Int, dim: Int): DataFrame = {
    def withBuckets(df: DataFrame, idName: String, v: String): DataFrame =
      df.select(col(idName), col(v).as(s"__v_$idName"))
        .select(col(idName), col(s"__v_$idName"), posexplode(array(
          (0 until numTables).map(t =>
            lshBucketAt(col(s"__v_$idName"), numBits, numTables, dim, t)): _*))
          .as(Seq("tb", "bucket")))
    val c = withBuckets(c0, "nn_id", "cv")
    val q = withBuckets(q0, "query_id", "qv")
    val scored = c.join(broadcast(q), Seq("tb", "bucket"))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("cosine", graft.functions.Portable.pround(
        dot(col("__v_query_id"), col("__v_nn_id")), 6))
      // a pair colliding in several tables must score once: cosine is
      // identical across tables, so the distinct runs on 3 scalars
      .select("query_id", "nn_id", "cosine")
      .distinct()
    topKPerQuery(scored, k)
  }

  /** IVF-style ANN: the corpus is split into `nCells` Voronoi cells
    * around centroid vectors; each query probes only its `nProbe`
    * nearest cells, cutting scored candidates from |corpus| to
    * (nProbe/nCells)·|corpus|.
    *
    * Centroids here are the `nCells` lowest-id corpus vectors —
    * deterministic seeding; an offline k-means refinement would change
    * WHICH vectors anchor cells but none of the routing mechanics. They
    * are collected to the driver and shipped as literals (bounded at
    * nCells·dim doubles — exactly what Spark ML's KMeansModel does), so
    * cell assignment is one codegen'd projection with zero joins.
    */
  /** Spherical k-means training for the IVF coarse quantizer: Lloyd
    * iterations where assignment is a broadcast argmax-dot projection
    * over the corpus and the update is one grouped per-dimension mean —
    * only the nCells×dim MODEL is ever collected to the driver (the
    * MLlib pattern), never data. Empty cells keep their previous
    * centroid. Returns unit-norm centroids.
    *
    * DETERMINISTIC by construction: the per-dimension sums are
    * fixed-point (exact long accumulation, order-independent — a plain
    * double sum varies in ULPs with Spark's partition order, which can
    * flip a knife-edge assignment next iteration), and the mean/norm
    * arithmetic is a fixed sequential fold. Identical input → bit-
    * identical centroids on every run AND in any engine that mirrors
    * the formula, which is what lets the full trained-IVF pipeline be
    * oracle-verified. Scale 10^12 keeps Σ|x|·10^12 < 2^63 for unit-norm
    * inputs up to ~10^6 rows per (cell, dim); lower it for larger
    * cells. */
  def trainCentroids(corpus: DataFrame, id: String, vec: String,
                     nCells: Int, iters: Int): Array[Seq[Double]] =
    trainCentroidsNormed(
      corpus.select(col(id).as("nn_id"), l2normalize(col(vec)).as("cv")),
      nCells, iters)

  /** As [[trainCentroids]] over an already-normalized `(nn_id, cv)`
    * frame — lets callers materialize the normalized corpus ONCE and
    * share it between training and search instead of re-scanning the
    * source per Lloyd iteration. */
  def trainCentroidsNormed(c: DataFrame, nCells: Int,
                           iters: Int): Array[Seq[Double]] =
    trainCentroidsNormed(c, nCells, iters, seedVectors(c, nCells))

  /** Deterministic quantizer seeds: the `n` lowest-id vectors. A caller
    * training SEVERAL quantizers over one corpus (the IVFADC
    * composition) collects max(n) once and slices, instead of paying
    * one driver round-trip per trainer. */
  private[graft] def seedVectors(c: DataFrame, n: Int): Array[Seq[Double]] =
    c.orderBy("nn_id").limit(n).collect().map(_.getSeq[Double](1))

  /** As above with a pre-collected seed (first `nCells` rows used). */
  private[graft] def trainCentroidsNormed(c: DataFrame, nCells: Int,
      iters: Int, seed: Array[Seq[Double]]): Array[Seq[Double]] = {
    var cents: Array[Seq[Double]] = seed.take(nCells)
    // empty corpus: no cells to refine (a 0-cell assignment would not
    // even analyze) — callers see the empty quantizer
    if (cents.isEmpty) return cents
    val scale = 1e12
    for (_ <- 0 until iters) {
      val best = bestCell(col("cv"),
        cents.zipWithIndex.map { case (cv, i) => (i, cv) })
      val sums = c.withColumn("cell", best)
        .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(graft.functions.Portable.toFixed(col("x"), 12)).as("sx"),
          count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      val byCell = sums.groupBy(_._1)
      cents = cents.zipWithIndex.map { case (old, i) =>
        byCell.get(i) match {
          case Some(rows) =>
            val mean = rows.sortBy(_._2).map(r => r._3.toDouble / scale / r._4)
            var ss = 0.0
            mean.foreach(x => ss += x * x) // fixed sequential fold
            val nrm = math.sqrt(ss)
            if (nrm == 0.0) old else mean.map(_ / nrm).toSeq
          case None => old
        }
      }
    }
    cents
  }

  // ───────────────────── integer-exact k-means (F20/F21) ─────────────

  /** Fixed-point view of the corpus: `(nn_id, fv array<long>)`. */
  private def fixedCorpus(emb: DataFrame, id: String, vec: String,
                          scale: Int): DataFrame =
    emb.select(col(id).as("nn_id"),
      transform(col(vec), x =>
        graft.functions.Portable.toFixed(x.cast("double"), scale)).as("fv"))

  private def longDotCol(x: Column, y: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.LongVectorDot(
        org.apache.spark.sql.graft.ColumnBridge.expression(x),
        org.apache.spark.sql.graft.ColumnBridge.expression(y)))

  /** Squared-L2 argmin cell over literal fixed-point centroids — all
    * long arithmetic, ties to the lowest cell index (struct ordering).
    * The row's own ‖a‖² is constant across cells, so the ranking key
    * is `‖c‖² − 2·a·c` (exact integers — argmin and ties unchanged),
    * which makes each cell's score ONE native codegen'd long dot
    * instead of an interpreted per-element HOF chain. */
  private def bestCellFixed(fv: Column,
                            cents: Array[Array[Long]]): Column = {
    val scored = cents.zipWithIndex.map { case (cv, j) =>
      val nc2 = cv.map(x => x * x).sum
      val dist = lit(nc2) - longDotCol(fv, typedlit(cv.toSeq)) * 2L
      struct(dist.as("d"), lit(j).as("j"))
    }
    array_min(array(scored.toIndexedSeq: _*))("j")
  }

  /** Train integer-exact Lloyd centroids over the fixed corpus: seeds
    * are the `k` lowest-id vectors, per-iteration updates are exact
    * long sums + floor division (empty cells keep their centroid) —
    * every quantity an integer, so the trained centroids and every
    * assignment are bit-reproducible in ANY engine (the [[
    * trainCentroidsNormed]] double path is for in-engine IVF use; this
    * one is the oracle-exact clustering surface). Model-sized driver
    * state only: k seeds + k×dim update sums per iteration. */
  private[graft] def kmeansCentroidsFixed(fx: DataFrame, k: Int,
                                          iters: Int): Array[Array[Long]] = {
    var cents: Array[Array[Long]] = fx.orderBy("nn_id").limit(k).collect()
      .map(_.getSeq[Long](1).toArray)
    if (cents.isEmpty) return cents
    for (_ <- 0 until iters) {
      val sums = fx
        .withColumn("cell", bestCellFixed(col("fv"), cents))
        .select(col("cell"), posexplode(col("fv")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      cents = cents.zipWithIndex.map { case (old, j) =>
        sums.get(j) match {
          case Some(rows) =>
            rows.sortBy(_._2).map(r => Math.floorDiv(r._3, r._4)).toArray
          case None => old
        }
      }
    }
    cents
  }

  /** k-means cluster assignment (F20) — `(id, cell)` under
    * [[kmeansCentroidsFixed]] centroids: the SemDeDup / semantic-
    * clustering partitioner (Abbas et al. 2023 cluster first, dedup
    * within cells). One corpus scan per Lloyd iteration plus one for
    * the final assignment — `cacheCorpus` pins the fixed-point
    * projection so the iterations re-read block storage, the
    * [[ivfTopK]] iterative-ML discipline. */
  def kmeansAssign(emb: DataFrame, id: String, vec: String, k: Int,
                   iters: Int, scale: Int = 6,
                   cacheCorpus: Boolean = true): DataFrame = {
    require(k >= 1 && iters >= 0)
    val fx0 = fixedCorpus(emb, id, vec, scale)
    val fx = if (cacheCorpus) fx0.localCheckpoint() else fx0
    val cents = kmeansCentroidsFixed(fx, k, iters)
    kmeansAssignFixed(fx, id, cents)
  }

  /** Shared empty-safe assignment tail: no centroids (an empty
    * training corpus) means no cells — an empty typed frame, not an
    * unresolvable zero-width argmin. */
  private def kmeansAssignFixed(fx: DataFrame, id: String,
                                cents: Array[Array[Long]]): DataFrame =
    if (cents.isEmpty)
      fx.select(col("nn_id").as(id), lit(0).cast("int").as("cell"))
        .filter(lit(false))
    else fx.select(col("nn_id").as(id),
      bestCellFixed(col("fv"), cents).cast("int").as("cell"))

  /** Assignment under FROZEN [[kmeansCentroidsFixed]] centroids — a
    * pure stateless projection, so it runs unchanged on a stream (the
    * I18 frozen-model discipline: retraining is a batch event, arrivals
    * between retrains are encoded under the pinned model). */
  def kmeansAssignWith(emb: DataFrame, id: String, vec: String,
                       cents: Array[Array[Long]],
                       scale: Int = 6): DataFrame =
    kmeansAssignFixed(fixedCorpus(emb, id, vec, scale), id, cents)

  /** SemDeDup (F21, Abbas et al. 2023): cluster with [[kmeansAssign]],
    * then inside each cell drop every vector that has a LOWER-id
    * neighbor with cosine ≥ `thresholdNum/thresholdDen` — reported as
    * `(id, kept_by, cell)` with `kept_by` its lowest-id in-cell
    * near-neighbor (greedy; `kept_by` may itself be dropped — feed the
    * pairs through [[Dedup.clusters]] when canonical survivors are
    * needed). The cosine gate is EXACT integer arithmetic: `dot > 0 ∧
    * dot²·den² ≥ num²·|a|²·|b|²` over fixed-point longs widened to
    * decimal(38) — no sqrt, no float compare, oracle-reproducible.
    *
    * Scale shape: the pair expansion is an equi-join on `cell` (never
    * a cross product — the e5 bucketed discipline, with k sized so
    * cells bound the quadratic term), and the corpus is scanned
    * through the SAME pinned fixed-point projection the trainer used.
    * Pass `k ≤ 0` for the AUTO regime, k = ⌈√n⌉ — the paper's
    * corpus-proportional cluster count, which keeps the per-cell pair
    * term bounded without caller tuning (fixed k lets cells grow with
    * the corpus); explicit positive k remains the caller override. */
  def semDedup(emb: DataFrame, id: String, vec: String, k: Int,
               iters: Int, thresholdNum: Long, thresholdDen: Long,
               scale: Int = 6): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0)
    val fx = fixedCorpus(emb, id, vec, scale).localCheckpoint()
    // k ≤ 0 → AUTO: k = ⌈√n⌉ (the Abbas et al. regime — cluster count
    // grows with the corpus). Fixed k makes cells grow linearly with
    // the corpus and the in-cell pair term quadratically (the r10 F21
    // probe: 4.66× at 16× data under k=8); k = √n balances the assign
    // term (n·k) against the pair term (n²/k) at n^1.5 each, so
    // neither explodes as the corpus scales. The count is one
    // calibration job over the already-pinned fixed projection (the
    // k11 min/max-collect discipline); explicit k stays the override
    // and the oracle replays whichever k ran.
    val kEff =
      if (k > 0) k
      else math.max(1, math.ceil(math.sqrt(fx.count().toDouble)).toInt)
    val cents = kmeansCentroidsFixed(fx, kEff, iters)
    if (cents.isEmpty)
      return fx.select(col("nn_id").as(id), col("nn_id").as("kept_by"),
        lit(0).cast("int").as("cell")).filter(lit(false))
    val assigned = fx.select(col("nn_id"), col("fv"),
      bestCellFixed(col("fv"), cents).cast("int").as("cell"))
    // native codegen'd long dot — the HOF spelling is interpreted and
    // dominated the pair expansion (measured 3.6 s → 1.8 s at sf0.1);
    // doubles can't sub in (products overflow 2^53)
    def ldot(x: Column, y: Column): Column = longDotCol(x, y)
    val a = assigned.select(col("cell"), col("nn_id").as("ia"),
      col("fv").as("fa"), ldot(col("fv"), col("fv")).as("na2"))
    val b = assigned.select(col("cell"), col("nn_id").as("ib"),
      col("fv").as("fb"), ldot(col("fv"), col("fv")).as("nb2"))
    val dot = ldot(col("fa"), col("fb"))
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    a.join(b, Seq("cell"))
      .filter(col("ia") < col("ib"))
      .withColumn("__dot", dot)
      .filter(col("__dot") > 0L &&
        d38(col("__dot")) * col("__dot") * lit(thresholdDen * thresholdDen)
          >= d38(lit(thresholdNum * thresholdNum)) * col("na2") * col("nb2"))
      .groupBy(col("ib").as(id))
      .agg(min(col("ia")).as("kept_by"), min(col("cell")).as("cell"))
  }

  /** NDCG position weights `1/log2(i+1)` for ranks 1..10, in exact ppm
    * LITERALS (the Benford literal-constants discipline: engine log2
    * implementations differ in the last ulp, a shared integer table
    * cannot), plus their prefix sums for the ideal DCG. */
  private[graft] val RankEvalW: Seq[Long] = Seq(
    1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)
  private[graft] val RankEvalCumW: Seq[Long] =
    RankEvalW.scanLeft(0L)(_ + _).tail

  /** Rank-aware retrieval evaluation (F22) — the index-quality report
    * every ANN deployment runs before switching searchers: per query,
    * recall@k, MRR (reciprocal of the best candidate rank that hits
    * the truth set; 0 when nothing hits) and NDCG@k (binary relevance
    * = membership in the exact top-k; DCG in exact ppm integers off
    * [[RankEvalW]], ideal DCG the prefix sum at n_true) of a candidate
    * ranking against an exact truth ranking. Both inputs are
    * `(query_id, rank, nn_id, …)` frames with ranks ≤ k — the f1/f2
    * contract. Complements f4's recall-only report with the
    * position-sensitive metrics.
    *
    * Shape: one equi-join on (query, item) + one query-keyed agg —
    * both sides are k-bounded per query, so the whole report is
    * query-set-sized regardless of corpus size. */
  def rankEval(truth: DataFrame, cand: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= RankEvalW.length,
      s"k must be in 1..${RankEvalW.length}, got $k")
    import graft.functions.Portable
    val w = typedlit(RankEvalW.take(k))
    val cw = typedlit(RankEvalCumW.take(k))
    val t = truth.select(col("query_id"), col("nn_id"))
    val c = cand.select(col("query_id"), col("nn_id"),
      col("rank").as("__cr"))
    t.join(c, Seq("query_id", "nn_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_true"),
        count(col("__cr")).as("n_hit"),
        min(col("__cr")).as("__minr"),
        // try_element_at, NOT element_at: the element_at(Column, Any)
        // overload mis-evaluates a NULL ordinal (returns an arbitrary
        // element instead of NULL), silently crediting every miss
        sum(try_element_at(w, col("__cr").cast("int"))).as("__dcg"))
      .select(col("query_id"), col("n_true"), col("n_hit"),
        Portable.pround(col("n_hit").cast("double")
          / col("n_true").cast("double"), 4).as("recall"),
        when(col("__minr").isNotNull,
          Portable.pround(lit(1.0) / col("__minr").cast("double"), 6))
          .otherwise(lit(0.0)).as("mrr"),
        when(col("n_hit") > 0L,
          Portable.pround(col("__dcg").cast("double")
            / try_element_at(cw, col("n_true").cast("int")).cast("double"), 6))
          .otherwise(lit(0.0)).as("ndcg"))
  }

  /** `cacheCorpus` materializes the normalized vectors once and shares
    * them between the Lloyd iterations and the search pass — the
    * standard iterative-ML pattern: each extra training iteration then
    * reads block storage instead of re-planning scan+normalize.
    * MEASURED at sf0.1 (5-run min): checkpoint 0.74 s vs re-scan
    * 0.91 s with 2 Lloyd iterations — the checkpoint wins even locally
    * now that assignment is the cheap argmax fold, and wins harder at
    * corpus scale or over an expensive upstream plan. Off by default
    * only because a 0-iteration call (pre-trained quantizer) has
    * nothing to share. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, nCells: Int, nProbe: Int, trainIters: Int = 0,
              cacheCorpus: Boolean = false): DataFrame = {
    val normed0 = corpus.select(col(id).as("nn_id"), l2normalize(col(vec)).as("cv"))
    val normed = if (cacheCorpus && trainIters > 0) normed0.localCheckpoint()
                 else normed0
    val cents = trainCentroidsNormed(normed, nCells, trainIters)
    ivfTopKNormed(normed, normalizedQueries(queries, id, vec), k, nProbe, cents)
  }

  /** IVF search against a PRE-TRAINED quantizer — the deployment shape:
    * the model is trained once (offline, [[trainCentroids]]) and reused
    * across every query batch; per-batch cost is assignment + probe
    * only. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, id: String,
                  vec: String, k: Int, nProbe: Int,
                  centroids: Array[Seq[Double]]): DataFrame =
    ivfTopKNormed(normalized(corpus, id, vec),
      normalizedQueries(queries, id, vec), k, nProbe, centroids)

  /** Scalar INT8 QUANTIZATION of an embedding column — the storage and
    * bandwidth lever for billion-vector corpora (4× smaller than f32;
    * the compression step every large ANN deployment runs before
    * indexing). Per-vector symmetric scale (`max |x|`), `q = round(x /
    * scale · 127)`, so dequantization is `q · scale / 127`. Returns one
    * row per vector: the 6dp scale, the int8 codes (csv — engine-
    * portable), and the 6dp max reconstruction error, which for
    * unit-norm embeddings is bounded by scale/254. Pure codegen'd
    * array work in ONE projection — no shuffle, no UDF; zero vectors
    * quantize to all-zero codes with zero error. */
  /** Per-DIMENSION corpus statistics `(dim, mean, std, mn, mx)` — the
    * calibration table a production int8/PTQ pipeline computes before
    * choosing quantizer ranges (per-tensor [[quantizeInt8]] clips
    * outlier dimensions; per-dimension ranges need exactly this), and
    * the whitening layer's mean/std. Narrow `posexplode` then ONE
    * map-combined grouped agg keyed on the dimension index: the
    * exchange carries ≤ partitions × dim rows of fixed-point sums —
    * sketch-sized however big the corpus. Sums run in exact fixed-point
    * ([[graft.functions.Portable]]) so results are partition-order
    * independent and oracle-reproducible; std is the population form
    * computed from (Σx, Σx²) in one pass, IEEE-rounded at 6dp. */
  def embeddingStats(emb: DataFrame, id: String, vec: String): DataFrame = {
    import graft.functions.Portable
    val e = emb.select(posexplode(col(vec)).as(Seq("dim", "x")))
    e.groupBy(col("dim"))
      .agg(count(lit(1)).as("__n"),
        sum(Portable.toFixed(col("x"), 8)).as("__sx"),
        sum(Portable.toFixed(col("x") * col("x"), 8)).as("__sxx"),
        Portable.pround(min(col("x")), 6).as("mn"),
        Portable.pround(max(col("x")), 6).as("mx"))
      .select(col("dim"),
        Portable.pround(col("__sx").cast("double") / 1e8 / col("__n"), 6)
          .as("mean"),
        // greatest(0, ·): Σx²/n − mean² can round epsilon-negative for a
        // near-constant dimension, and sqrt of that is NaN — which would
        // poison downstream whitening/calibration consumers
        Portable.pround(sqrt(greatest(lit(0.0),
          col("__sxx").cast("double") / 1e8 / col("__n") -
            (col("__sx").cast("double") / 1e8 / col("__n")) *
            (col("__sx").cast("double") / 1e8 / col("__n")))), 6).as("std"),
        col("mn"), col("mx"))
  }

  /** The symmetric per-dimension ranges [[quantizeInt8PerDim]] encodes
    * against, read off an [[embeddingStats]] table — a model-sized
    * collect (dim doubles), the same train-once pattern as the PQ
    * codebooks. */
  def perDimScales(stats: DataFrame): Array[Double] =
    stats.select(col("dim"), greatest(abs(col("mn")), abs(col("mx"))))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
      .sortBy(_._1).map(_._2)

  /** Per-key embedding-CENTROID drift between a reference and a
    * current batch — the vector-side counterpart of
    * [[DataQuality.distributionDrift]]: when a new crawl, a re-scraped
    * source, or a new encoder checkpoint lands, has each label's
    * centroid moved?
    *
    * Metrics per key (engine-portable like all graft numerics):
    *  - `l1_shift`: `Σ_d |mean_ref,d − mean_cur,d|` — the L1 norm of
    *    the centroid displacement.
    *  - `max_dim_shift`: the worst single dimension (localizes which
    *    feature moved).
    * Both avoid cross-dimension FLOAT sums entirely (float addition is
    * order-sensitive and engines sum rows in different orders): the
    * per-dim numerator is the exact integer `|sx_r·n_c − sx_c·n_r|`
    * over fixed-point dim sums (the [[embeddingStats]] discipline),
    * summed/maxed exactly as decimal(38), divided once. L2 would need a
    * float sum of squares — L1+max is the portable pair, and for drift
    * ALARMING purposes they bound each other (`max ≤ L2 ≤ L1`).
    *
    * Scale shape: each side reduces to (key, dim) fixed sums in one
    * map-combined pass (exchange ≤ keys×dims rows however many vectors
    * flow in); everything after is sketch-sized. Keys must appear in
    * BOTH sides (inner join): centroid drift of a brand-new or
    * vanished label is not defined — [[DataQuality.distributionDrift]]
    * on the key column is the existence check. */
  def embeddingDrift(ref: DataFrame, cur: DataFrame, key: String,
                     vec: String, scale: Int = 6): DataFrame = {
    import graft.functions.Portable
    def sums(df: DataFrame, sx: String, n: String) =
      df.filter(col(vec).isNotNull)
        .select(col(key), posexplode(col(vec)).as(Seq("dim", "x")))
        .groupBy(col(key), col("dim"))
        .agg(sum(Portable.toFixed(col("x"), 8)).as(sx),
          count(lit(1)).as(n))
    val dec = "decimal(19,0)"
    val num = abs(col("rs").cast(dec) * col("cn").cast(dec) -
      col("cs").cast(dec) * col("rn").cast(dec))
    sums(ref, "rs", "rn").join(sums(cur, "cs", "cn"), Seq(key, "dim"))
      .withColumn("__d", num)
      .groupBy(col(key))
      .agg(max(col("rn")).as("n_ref"), max(col("cn")).as("n_cur"),
        count(lit(1)).as("n_dims"),
        sum(col("__d")).as("__l1"), max(col("__d")).as("__mx"))
      .select(col(key), col("n_ref"), col("n_cur"), col("n_dims"),
        Portable.pround(col("__l1").cast("double") /
          (col("n_ref").cast("double") * col("n_cur").cast("double")
            * lit(1e8)), scale).as("l1_shift"),
        Portable.pround(col("__mx").cast("double") /
          (col("n_ref").cast("double") * col("n_cur").cast("double")
            * lit(1e8)), scale).as("max_dim_shift"))
  }

  /** Per-DIMENSION symmetric int8 quantization — the PTQ shape that
    * per-tensor [[quantizeInt8]] approximates: each dimension encodes
    * against ITS calibrated range (`scales`, from [[perDimScales]] over
    * an [[embeddingStats]] calibration pass), so one wide outlier
    * dimension no longer crushes every other dimension's resolution.
    * The scales ride the projection as a literal array indexed inside
    * the transform lambda — pure codegen'd projection, no join, no
    * shuffle. Zero-range dimensions encode 0 (the f7 zero-scale
    * contract). Output mirrors [[quantizeInt8]]: portable csv codes +
    * 6dp max reconstruction error. */
  def quantizeInt8PerDim(emb: DataFrame, id: String, vec: String,
                         scales: Array[Double]): DataFrame = {
    import graft.functions.Portable
    val sc = typedlit(scales.toSeq)
    val v = col(vec)
    def scAt(i: Column): Column = element_at(sc, (i + 1).cast("int"))
    def q(x: Column, i: Column): Column =
      when(scAt(i) === 0.0, lit(0L))
        .otherwise(Portable.toFixed(x / scAt(i) * 127, 0))
    val err = array_max(zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
      when(scAt(i) === 0.0, lit(0.0))
        .otherwise(abs(x - q(x, i) * scAt(i) / 127))))
    emb.select(col(id).as("vec_id"),
      concat_ws(",", zip_with(v, sequence(lit(0), size(v) - 1),
        (x, i) => q(x, i).cast("string"))).as("q_csv"),
      Portable.pround(err, 6).as("max_err"))
  }

  def quantizeInt8(emb: DataFrame, id: String, vec: String): DataFrame = {
    import graft.functions.Portable
    // the scale must cross a Project boundary before the per-element
    // lambdas reference it: inlined, the O(dim) array_max re-evaluates
    // per element (O(dim²) per row — measured 10× slower), and
    // CollapseProject correctly declines to merge a non-cheap alias
    // referenced three times
    val scaled = emb.select(col(id).as("vec_id"), col(vec).as("__v"),
      array_max(transform(col(vec), x => abs(x))).as("__sc"))
    val v = col("__v")
    val sc = col("__sc")
    def q(x: Column): Column =
      when(sc === 0.0, lit(0L)).otherwise(Portable.toFixed(x / sc * 127, 0))
    val err = array_max(transform(v, x =>
      when(sc === 0.0, lit(0.0)).otherwise(abs(x - q(x) * sc / 127))))
    scaled.select(col("vec_id"),
      Portable.pround(sc, 6).as("scale"),
      concat_ws(",", transform(v, x => q(x).cast("string"))).as("q_csv"),
      Portable.pround(err, 6).as("max_err"))
  }

  /** Brute-force top-k over the INT8-QUANTIZED corpus — the
    * memory-bound deployment shape: the index stores the 4×-smaller
    * [[quantizeInt8]] codes (+ one 6dp scale per vector) and the
    * searcher sees ONLY them, dequantizing on the fly (`code · scale /
    * 127`, one codegen'd transform — the scale is a plain column ref,
    * cheap inside the lambda). Queries stay full-precision and
    * broadcast. Ranking degrades only by the quantization error (≤
    * scale/254 per component); the result remains bit-deterministic and
    * oracle-checkable because codes and the dequant arithmetic are
    * exact integer/IEEE ops mirrored in SQL. Same output shape as
    * [[bruteForceTopK]]. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, id: String,
                    vec: String, k: Int): DataFrame = {
    val qz = quantizeInt8(normalized(corpus, id, vec), "nn_id", "cv")
    val c = qz.select(col("vec_id").as("nn_id"),
      transform(split(col("q_csv"), ","),
        s => s.cast("double") * col("scale") / lit(127.0)).as("cv"))
    topKPerQuery(
      c.join(broadcast(normalizedQueries(queries, id, vec)),
          col("query_id") =!= col("nn_id"))
        .withColumn("cosine",
          graft.functions.Portable.pround(dot(col("qv"), col("cv")), 6)),
      k)
  }

  /** Corpus-side cell assignment: the native argmax loop
    * ([[graft.functions.expressions.BestCell]]) — "highest dot, ties to
    * highest cell", the exact tie-break the sorted spelling (and the
    * oracle's `ORDER BY dot DESC, cell DESC`) uses. Two spellings
    * preceded it: per-row `sort_array` (O(nCells·log nCells) per corpus
    * row), then an `array_max` struct fold — still nCells struct
    * allocations per row and nCells expression subtrees per plan, real
    * money at the thousands of cells a 100 TB corpus wants. */
  private[graft] def bestCell(v: Column, cents: Array[(Int, Seq[Double])]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.BestCell(
        org.apache.spark.sql.graft.ColumnBridge.expression(v),
        new graft.functions.expressions.CellCentroids(
          cents.map(_._1), cents.map(_._2.toArray))))

  /** IVF search over pre-normalized frames with a pre-trained
    * quantizer — the seam the recall report composes with
    * [[trainCentroidsNormed]] so training + search share ONE
    * materialized corpus. */
  def ivfTopKNormed(c: DataFrame, q0: DataFrame, k: Int, nProbe: Int,
                    centroids: Array[Seq[Double]]): DataFrame = {
    val cents: Array[(Int, Seq[Double])] =
      centroids.zipWithIndex.map { case (cv, i) => (i, cv) }
    // query side keeps the full sort: it needs the top-nProbe SLICE, and
    // the query set is broadcast-tiny — per-row sort cost is irrelevant
    def cellScores(v: Column): Column = sort_array(array(cents.toIndexedSeq.map {
      case (cid, cv) => struct(dot(v, typedlit(cv)).as("s"), lit(cid).as("cell"))
    }: _*), asc = false)
    val assigned = c.withColumn("cell", bestCell(col("cv"), cents))
    val q = q0.withColumn("cell", explode(transform(
        slice(cellScores(col("qv")), 1, nProbe), x => x("cell"))))
    topKPerQuery(
      assigned.join(broadcast(q), Seq("cell"))
        .filter(col("query_id") =!= col("nn_id"))
        .withColumn("cosine",
          graft.functions.Portable.pround(dot(col("qv"), col("cv")), 6)),
      k)
  }

  // ------------------------------------------------------ product quantization

  /** PQ code array for one vector: `m` small ints, one per subspace —
    * per-subspace argmin L2 as ONE native loop
    * ([[graft.functions.expressions.PqEncode]]; semantics and the
    * declarative-spelling history documented on
    * [[graft.functions.expressions.PqCodebook]]). This IS the index
    * payload — `m` bytes of information per vector versus `4·dim` for
    * raw float32, the ~32× memory ratio (m=8, dim=64) that makes
    * billion-vector search fit executor RAM (Jégou/Douze/Schmid,
    * TPAMI'11 product quantization; reference keeps only raw
    * embeddings, `embeddings.parquet`). */
  private def pqCodes(v: Column, cb: Array[Array[Seq[Double]]]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.PqEncode(
        org.apache.spark.sql.graft.ColumnBridge.expression(v),
        new graft.functions.expressions.PqCodebook(cb.map(_.map(_.toArray)))))

  /** The ADC inner loop as a native codegen'd expression
    * ([[graft.functions.expressions.PqAdc]]) — the HOF spelling
    * (`aggregate(zip_with(...))`) is interpreted and allocates per
    * CANDIDATE, which a 16× ScaleProbe measured at 44× before the
    * native rewrite; this is the scan the compressed index exists
    * to make cheap. */
  private def adcScore(codes: Column, qtab: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.PqAdc(
        org.apache.spark.sql.graft.ColumnBridge.expression(codes),
        org.apache.spark.sql.graft.ColumnBridge.expression(qtab)))


  /** Train PQ codebooks: `m` independent per-subspace Lloyd runs, all
    * folded into ONE distributed job per iteration — assign every row's
    * `m` codes in the scan, posexplode components once, and reduce
    * fixed-point sums keyed `(subspace, code, component)`. Only the
    * model (m × nCodes × dim/m doubles) is ever collected, and the
    * fixed-point accumulation makes retraining bit-deterministic across
    * partitionings — the same discipline as [[trainCentroidsNormed]].
    * Subspace centroids are subvector MEANS (L2 distortion minimizers),
    * deliberately NOT re-normalized: unlike IVF cells they quantize
    * vector FRAGMENTS, which are not unit-norm. */
  def trainPQ(c: DataFrame, dim: Int, m: Int, nCodes: Int,
              iters: Int): Array[Array[Seq[Double]]] =
    trainPQ(c, dim, m, nCodes, iters, seedVectors(c, nCodes))

  /** As above with a pre-collected seed (first `nCodes` rows used). */
  private[graft] def trainPQ(c: DataFrame, dim: Int, m: Int, nCodes: Int,
      iters: Int, seed0: Array[Seq[Double]]): Array[Array[Seq[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val d = dim / m
    // deterministic seeding: the nCodes lowest-id vectors, sliced
    val seed = seed0.take(nCodes)
    var cb: Array[Array[Seq[Double]]] =
      Array.tabulate(m)(sub => seed.map(v => v.slice(sub * d, sub * d + d)))
    // empty corpus: no codebooks to refine (a 0-code assignment would
    // not even analyze) — callers guard on the empty result
    if (seed.isEmpty) return cb
    val scale = 1e12
    for (_ <- 0 until iters) {
      val sums = c
        .withColumn("codes", pqCodes(col("cv"), cb))
        .select(col("codes"), posexplode(col("cv")).as(Seq("pos", "x")))
        .select((col("pos") / d).cast("int").as("sub"),
          (col("pos") % d).as("cpos"), col("x"), col("codes"))
        .select(col("sub"), element_at(col("codes"), col("sub") + 1).as("code"),
          col("cpos"), col("x"))
        .groupBy("sub", "code", "cpos")
        .agg(sum(graft.functions.Portable.toFixed(col("x"), 12)).as("sx"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getLong(3), r.getLong(4))))
        .groupBy(_._1)
      cb = Array.tabulate(m) { sub =>
        cb(sub).zipWithIndex.map { case (old, code) =>
          sums.get((sub, code)) match {
            case Some(rows) =>
              rows.map(_._2).sortBy(_._1)
                .map(r => r._2.toDouble / scale / r._3).toSeq
            case None => old // empty cell keeps its centroid
          }
        }
      }
    }
    cb
  }

  /** The PQ index frame: `(nn_id, codes)` — what a deployment persists
    * (and ALL the search pass reads until the rerank fetch). */
  def pqEncode(c: DataFrame, cb: Array[Array[Seq[Double]]]): DataFrame =
    c.select(col("nn_id"), pqCodes(col("cv"), cb).as("codes"))

  /** PQ-ADC top-k with exact re-ranking — the memory-bound billion-
    * vector deployment shape (IVFADC+R without the coarse cell layer;
    * [[ivfTopKNormed]] supplies that layer when composed):
    *
    *  1. TRAIN [[trainPQ]] codebooks on the corpus (model-sized collect).
    *  2. ENCODE the corpus once: `m` codes/vector ([[pqEncode]]) — the
    *     only full-width corpus pass.
    *  3. ADC SCAN: each query precomputes its `m × nCodes` lookup table
    *     of subspace dots ONCE (broadcast with the query row), then a
    *     candidate scores in O(m) table lookups —
    *     `aggregate(zip_with(codes, qtab, ...))`, no float math against
    *     raw vectors. The scan touches ONLY the 32×-compressed index.
    *  4. SHORTLIST the `shortlist` best ADC scores per query through the
    *     bounded-heap [[graft.plans.TopKPerKey]] (map-side k-cap — the
    *     exchange carries ≤ partitions × shortlist rows per query).
    *  5. RERANK: fetch full vectors for shortlist ids only (broadcast
    *     semi-shaped join — on a corpus bucketed by id this prunes to
    *     the touched buckets) and rank by exact 6dp cosine, id
    *     tie-break — [[bruteForceTopK]]'s exact contract on the
    *     shortlist.
    *
    * With a generous shortlist the result EQUALS exact brute force
    * (the true top-k survives ADC into the shortlist), which is what
    * makes this oracle-checkable; at billion scale one shrinks
    * `shortlist`/`nCodes` and trades recall for the 32× memory win.
    * Recall at a given shortlist is a DATA property: clusterable
    * embeddings (real text encoders) keep PQ distortion below the
    * neighbor gap; the near-isotropic synthetic test vectors are the
    * hostile case and need the generous setting. Training is
    * deterministic, so a shortlist once verified exact on a corpus
    * stays exact. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
             k: Int, m: Int = 8, nCodes: Int = 16, iters: Int = 2,
             shortlist: Int = 1024, dim: Int = -1,
             cacheCorpus: Boolean = true): DataFrame = {
    val dim0 = if (dim > 0) dim else inferDim(corpus, vec) match {
      // empty corpus: no row to infer from — same contract as the
      // empty-codebook guard below (searcher schema, zero rows)
      case None => return bruteForceTopKNormed(
        normalized(corpus, id, vec), normalizedQueries(queries, id, vec), k)
      case Some(n) => n
    }
    val cN0 = normalized(corpus, id, vec)
    // training iterates and the rerank re-reads: pin ONE materialization
    val cN = if (cacheCorpus) cN0.localCheckpoint() else cN0
    val qN = normalizedQueries(queries, id, vec)
    val cb = trainPQ(cN, dim0, m, nCodes, iters)
    // empty corpus → empty codebooks: nothing to encode or scan, and the
    // zero-arg `array()` a 0-code bestCode would build does not analyze.
    // Brute force over the same (empty) frames yields the searcher
    // schema with zero rows
    if (cb.exists(_.isEmpty)) return bruteForceTopKNormed(cN, qN, k)
    pqTopKWith(cN, pqEncode(cN, cb), qN, cb, k, shortlist, dim0)
  }

  /** Vector length of the first corpus row, or None when the corpus is
    * empty (so default-dim callers can honor the empty-corpus contract
    * instead of throwing on `head()`). */
  private def inferDim(corpus: DataFrame, vec: String): Option[Int] =
    corpus.select(size(col(vec))).take(1).headOption.map(_.getInt(0))

  /** The per-query ADC lookup-table expression over a normalized query
    * vector `qv`: `qtab[sub][code] = qv_sub · cb[sub][code]` — the ONE
    * spelling of the subspace-dot formula both [[pqTopKWith]] and
    * [[ivfPqTopK]] ship (two inline copies could drift). */
  private def qtabColumn(cb: Array[Array[Seq[Double]]], dim: Int): Column = {
    val d = dim / cb.length
    array(cb.indices.map { sub =>
      val xs = slice(col("qv"), sub * d + 1, d)
      array(cb(sub).toIndexedSeq.map(cv => dot(xs, typedlit(cv))): _*)
    }: _*)
  }

  /** The ADC lookup tables for a normalized query frame, computed ONCE
    * per query row and broadcast with it. */
  private def withQueryTables(qN: DataFrame, cb: Array[Array[Seq[Double]]],
                              dim: Int): DataFrame =
    qN.select(col("query_id"), qtabColumn(cb, dim).as("qtab"))

  /** The deployment seam of [[pqTopK]] — train once, encode once, query
    * many: takes a pre-trained codebook and the pre-encoded
    * `(nn_id, codes)` index ([[pqEncode]], typically persisted), so a
    * query batch costs ONLY the ADC scan + shortlist + rerank — the
    * [[ivfTopKWith]] / `trainContaminationSketch` pattern. `cN` is the
    * full-precision normalized corpus the rerank fetches from. */
  def pqTopKWith(cN: DataFrame, codes: DataFrame, qN: DataFrame,
                 cb: Array[Array[Seq[Double]]], k: Int, shortlist: Int,
                 dim: Int): DataFrame = {
    val q = withQueryTables(qN, cb, dim)
    val short = graft.plans.TopKPerKey(
      codes.join(broadcast(q), col("query_id") =!= col("nn_id"))
        .withColumn("adc", adcScore(col("codes"), col("qtab"))),
      keys = Seq(col("query_id")),
      order = Seq(col("adc").desc, col("nn_id").asc),
      k = shortlist, rankName = "prank")
      .select("query_id", "nn_id")
    topKPerQuery(
      cN.join(broadcast(short), Seq("nn_id"))
        .join(broadcast(qN), Seq("query_id"))
        .withColumn("cosine",
          graft.functions.Portable.pround(dot(col("qv"), col("cv")), 6)),
      k)
  }

  /** Full IVFADC (Jégou et al. TPAMI'11 §IV): the coarse IVF layer
    * bounds WHICH candidates are scanned (nProbe of nCells cells), the
    * PQ codes bound the BYTES per scanned candidate (m per vector), and
    * the exact rerank bounds the precision loss — the composition of
    * [[ivfTopKNormed]]'s cell pruning with [[pqTopK]]'s ADC scan, and
    * the billion-vector index layout every production ANN system ships.
    * The persisted index is one row per vector: `(cell, codes)` — both
    * quantizers trained on the SAME localCheckpoint'd corpus (the f4
    * shared-materialization seam). Queries broadcast with their ADC
    * table replicated per probed cell; candidates join bucket-locally
    * on `cell`, so the scan cost is bucket mass × O(m), never corpus ×
    * O(dim). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: String,
                vec: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, nCodes: Int = 16, iters: Int = 2,
                shortlist: Int = 1024, dim: Int = -1): DataFrame = {
    val dim0 = if (dim > 0) dim else inferDim(corpus, vec) match {
      case None => return bruteForceTopKNormed(
        normalized(corpus, id, vec), normalizedQueries(queries, id, vec), k)
      case Some(n) => n
    }
    val cN = normalized(corpus, id, vec).localCheckpoint()
    val qN = normalizedQueries(queries, id, vec)
    // ONE seed collect feeds both quantizer trainers
    val seed = seedVectors(cN, math.max(nCells, nCodes))
    // the two trainers are INDEPENDENT Lloyd runs over the one pinned
    // corpus, each a chain of driver-blocking per-iteration jobs: train
    // on concurrent threads so the scheduler interleaves their jobs
    // (wall-clock ≈ max, not sum — concurrent actions on a
    // localCheckpoint'd frame are safe)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val centsF = Future(trainCentroidsNormed(cN, nCells, iters, seed)
      .zipWithIndex.map { case (cv, i) => (i, cv) })
    val cbF = Future(trainPQ(cN, dim0, m, nCodes, iters, seed))
    val cents = Await.result(centsF, Duration.Inf)
    val cb = Await.result(cbF, Duration.Inf)
    // empty corpus → no cells and no codes (see pqTopK's guard)
    if (cents.isEmpty || cb.exists(_.isEmpty))
      return bruteForceTopKNormed(cN, qN, k)
    ivfPqTopKWith(cN, qN, cents, cb, encodeIvfPq(cN, cents, cb),
      k, nProbe, shortlist, dim0)
  }

  /** IVFADC search from explicit components — the deployment spelling
    * of [[ivfPqTopK]]'s tail: a FROZEN model (`cents` + `cb`, e.g.
    * reloaded via [[loadIvfCentroids]]/[[loadPqCodebooks]]) against an
    * already-encoded `codes` table (`(nn_id, cell, codes)` — a
    * [[loadPqCodes]] read of the persisted/maintained index, pruned to
    * the probed cells' partitions). [[ivfPqTopK]] delegates here, so
    * the train-inline and serve-from-index paths cannot drift. `cN`
    * (the raw normalized corpus) serves only the exact rerank of the
    * shortlist. */
  def ivfPqTopKWith(cN: DataFrame, qN: DataFrame,
                    cents: Array[(Int, Seq[Double])],
                    cb: Array[Array[Seq[Double]]], codes: DataFrame,
                    k: Int, nProbe: Int, shortlist: Int,
                    dim: Int): DataFrame = {
    def cellScores(v: Column): Column = sort_array(array(cents.toIndexedSeq.map {
      case (cid, cv) => struct(dot(v, typedlit(cv)).as("s"), lit(cid).as("cell"))
    }: _*), asc = false)
    val q = qN.select(col("query_id"), qtabColumn(cb, dim).as("qtab"),
      explode(transform(slice(cellScores(col("qv")), 1, nProbe),
        x => x("cell"))).as("cell"))
    val short = graft.plans.TopKPerKey(
      codes.select("nn_id", "cell", "codes").join(broadcast(q), Seq("cell"))
        .filter(col("query_id") =!= col("nn_id"))
        .withColumn("adc", adcScore(col("codes"), col("qtab"))),
      keys = Seq(col("query_id")),
      order = Seq(col("adc").desc, col("nn_id").asc),
      k = shortlist, rankName = "prank")
      .select("query_id", "nn_id")
    topKPerQuery(
      cN.join(broadcast(short), Seq("nn_id"))
        .join(broadcast(qN), Seq("query_id"))
        .withColumn("cosine",
          graft.functions.Portable.pround(dot(col("qv"), col("cv")), 6)),
      k)
  }

  /** The IVFADC index frame under a FROZEN model — one row per vector
    * `(nn_id, cell, codes)` from an already-normalized `(nn_id, cv)`
    * corpus. Pure projection work (both quantizers ride the row as
    * literals), so it composes with `readStream` unchanged — the seam
    * [[graft.streaming.AnnIndexStream]] encodes micro-batches through.
    * Shared with [[ivfPqTopK]]'s train-then-encode path so the two
    * spellings of the encode cannot drift. */
  def encodeIvfPq(cN: DataFrame, cents: Array[(Int, Seq[Double])],
                  cb: Array[Array[Seq[Double]]]): DataFrame =
    cN.select(col("nn_id"), bestCell(col("cv"), cents).as("cell"),
      pqCodes(col("cv"), cb).as("codes"))

  /** Persist the coarse IVF quantizer beside [[savePqIndex]]'s
    * codebooks — `(cell, centroid)` rows, nCells of them; the other
    * half of the frozen model a continuous encoder reloads. */
  def saveIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       cents: Array[(Int, Seq[Double])]): Unit = {
    import spark.implicits._
    cents.toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Reload [[saveIvfCentroids]] into the searcher/encoder shape
    * (model-sized collect, cell-ordered). */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[(Int, Seq[Double])] =
    spark.read.parquet(s"$path/centroids")
      .select("cell", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)

  /** Persist a trained ANN index — the deployment round trip
    * [[pqTopKWith]] implies: the codebooks land as one model-sized
    * parquet table (`(sub, code, centroid)` rows, m × nCodes of them)
    * and the encoded corpus as the 32×-compressed `codes` table. When
    * the codes carry a `cell` column (the [[ivfPqTopK]] layout) the
    * table is cell-partitioned and lands through
    * [[graft.sources.Warehouse.mergeUpsert]] keyed on `nn_id` — an
    * incremental re-encode upserts idempotently and a probe's read
    * prunes to its nProbe cells' partitions. Training is deterministic,
    * so reload == retrain bit-for-bit (spec-asserted). */
  def savePqIndex(path: String, cb: Array[Array[Seq[Double]]],
                  codes: DataFrame): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (cv, c) => (s, c, cv) }
    }.toSeq.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    if (codes.columns.contains("cell")) {
      // batch loads are generation -1 on the same provenance column the
      // streaming maintainer versions by (its micro-batch ids start at
      // 0), so a maintained index and a batch seed share one schema and
      // stream updates always outrank the seed
      val versioned =
        if (codes.columns.contains("batch_id")) codes
        else codes.withColumn("batch_id",
          org.apache.spark.sql.functions.lit(-1L))
      graft.sources.Warehouse.mergeUpsert(versioned, s"$path/codes",
        partitionCols = Seq("cell"), key = Seq("nn_id"),
        versionCol = "batch_id")
    } else codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Reload [[savePqIndex]]'s codebooks into the in-memory shape the
    * searchers take (model-sized collect — the same bounded pattern as
    * the trainers' own output). */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      path: String): Array[Array[Seq[Double]]] =
    spark.read.parquet(s"$path/codebooks")
      .select("sub", "code", "centroid").collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2))
      }

  /** Reload [[savePqIndex]]'s encoded corpus (lazy — the ADC scan is
    * the first thing to read it, pruned to probed cells when
    * cell-partitioned). */
  def loadPqCodes(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    spark.read.parquet(s"$path/codes")
}
