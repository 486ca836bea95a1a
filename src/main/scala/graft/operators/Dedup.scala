package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant generates candidate pairs through an
  * equi-join on a bucketing key (content hash, shared shingle, LSH band,
  * coarse cluster) — never a cross product — so cost is linear in bucket
  * mass. High-frequency "stop shingles" are dropped before pair
  * generation (standard MinHash practice) to bound bucket fan-out under
  * skew; the same role AQE skew-join would play for genuinely heavy keys.
  */
object Dedup {

  /** All ordered element pairs (a < b by array position) of a sorted
    * array, as structs {a, b} — one native codegen'd expression (see
    * [[graft.functions.expressions.OrderedPairs]]; the nested-HOF
    * spelling was interpreted and allocated a slice per element),
    * shared by the LSH-style dedup variants. */
  private[operators] def orderedPairs(ds: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.OrderedPairs(
        org.apache.spark.sql.graft.ColumnBridge.expression(ds)))

  /** The shared 60-bit shuffle key: the first 15 hex digits of one md5,
    * parsed as a long — uniform, positive, reproducible by any engine.
    * One definition serves every `hashShingleKeys` mode (here and
    * [[Curation]]) so the width/collision contract can't drift between
    * operators; [[removeRepeatedSpans]] deliberately uses a WIDER
    * 120-bit struct instead (a transform can't shrug off collisions). */
  private[operators] def hashKey60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Exact dedup: group by content hash; keeper = min id. */
  def exact(docs: DataFrame, id: String, text: String): DataFrame =
    docs.groupBy(md5(col(text)).as("content_hash"))
      .agg(min(col(id)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** N-gram Jaccard near-dup: candidate pairs share >= 1 (non-stop)
    * shingle; J(a,b) = |A∩B| / (|A|+|B|-|A∩B|) over distinct shingles.
    *
    * The distinct-shingle array is materialized in ONE projection and
    * exploded from there — per-doc dedup happens in `array_distinct`
    * (no extra shuffle) and doc sizes come from the same array, so the
    * text is tokenized exactly once per doc. */
  def ngramJaccard(docs: DataFrame, id: String, text: String, k: Int,
                   threshold: Double, maxDocFreq: Int = 100,
                   hashShingleKeys: Boolean = false): DataFrame = {
    val shs = docs.select(col(id).as("doc"),
      shingles(col(text), k).as("shs"))
    // `hashShingleKeys` swaps the shuffled key from the shingle string
    // to its 60-bit md5 slice: 8 bytes per key instead of k words.
    // MEASURED (ScaleProbe 16×, shuffle-write bytes): lz4 shuffle
    // compression already collapses the overlapping-shingle redundancy,
    // so for THIS operator hashed keys save ~nothing (385 vs 384 MB)
    // and cost one md5 per shingle — default stays off. The knob
    // remains for deployments whose exchange is genuinely network-
    // bound AND incompressible; results are identical either way — a
    // within-doc key collision (≈n²/2^61 per doc) merges two shingles
    // for BOTH sizing and sharing, which cancels in the Jaccard
    // ratio's mirrored arithmetic (spec asserts equality of the two
    // modes).
    val keyOf: Column => Column =
      if (hashShingleKeys) hashKey60 else identity
    sharedCountPairs(shs, maxDocFreq, keyOf)
      .withColumn("jaccard", graft.functions.Portable.pround(
        col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The shared-element pair core under [[ngramJaccard]],
    * [[containmentPairs]] and [[graft.operators.Graphs.neighborJaccard]]:
    * from a `(doc, shs array)` frame, every doc pair sharing ≥ 1
    * element with its shared count and BOTH set sizes —
    * `(doc_a < doc_b, n_a, n_b, n_shared)`.
    *
    * |A| rides along as 4 bytes per shuffled row, computed map-side
    * from the same element array — the alternative (a separate sizes
    * aggregation joined back) costs an extra aggregation plus two
    * broadcast joins, or a second scan+shingle pass of the corpus.
    * Element rows are distinct per doc by construction → size = |A|.
    * Candidate pairs come from per-element doc buckets, NOT a
    * self-join: the window-count + sort-merge-join spelling sorts the
    * full element table by key twice; collect_list is a sort-free hash
    * agg and the pair expansion is declarative array work. The
    * stop-element drop (df > maxDocFreq) is a bucket-size filter,
    * which also bounds the O(m²) expansion per bucket under skew. */
  private[operators] def sharedCountPairs(shs: DataFrame, maxDocFreq: Int,
      keyOf: Column => Column = identity): DataFrame =
    shs.select(col("doc"), size(col("shs")).as("n_sh"),
        explode(transform(col("shs"), keyOf)).as("sh"))
      .groupBy("sh")
      .agg(sort_array(collect_list(struct(col("doc"), col("n_sh")))).as("ds"))
      .filter(size(col("ds")).between(2, maxDocFreq))
      .select(explode(Dedup.orderedPairs(col("ds"))).as("p"))
      // strict < (doc leads the struct) also drops the self-pair a
      // within-doc key collision would produce (the oracle's
      // a.doc < b.doc join does the same)
      .filter(col("p.a") < col("p.b"))
      .groupBy(col("p.a.doc").as("doc_a"), col("p.b.doc").as("doc_b"),
        col("p.a.n_sh").as("n_a"), col("p.b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_shared"))

  /** Asymmetric shingle CONTAINMENT pairs (E12, Broder 1997's `c(A,B)
    * = |A∩B| / |A|`) — the near-dup relation Jaccard is blind to:
    * a short document embedded verbatim-ish inside a long one scores
    * `|A∩B|/|A∪B| ≈ |A|/|B| → 0` on Jaccard however perfect the
    * overlap, while its containment is ≈ 1 (E7/E11 catch only EXACT
    * repeated spans; this is their fuzzy-subset complement). Emits
    * both directions' containments per unordered pair, kept when
    * EITHER side clears `threshold`; same bucketed candidate
    * machinery, size-carry and stop-shingle valve as E2 — one code
    * path ([[sharedCountPairs]]), so the scale story cannot drift. */
  def containmentPairs(docs: DataFrame, id: String, text: String, k: Int,
                       threshold: Double, maxDocFreq: Int = 100): DataFrame = {
    val shs = docs.select(col(id).as("doc"), shingles(col(text), k).as("shs"))
    sharedCountPairs(shs, maxDocFreq)
      .withColumn("containment_a", graft.functions.Portable.pround(
        col("n_shared").cast("double") / col("n_a"), 4))
      .withColumn("containment_b", graft.functions.Portable.pround(
        col("n_shared").cast("double") / col("n_b"), 4))
      .filter(col("containment_a") >= threshold ||
        col("containment_b") >= threshold)
      .select("doc_a", "doc_b", "containment_a", "containment_b")
  }

  /** Kirsch-Mitzenmacher hash family: hash_i(x) = (a_i·h1(x) + b_i·h2(x)
    * + c_i) mod P, with h1/h2 the two 28-bit halves of ONE md5 per
    * shingle. Magnitudes are chosen so every intermediate stays under
    * 2^53 — pure BIGINT arithmetic that any engine (and the DuckDB
    * oracle) reproduces bit-for-bit, with no overflow wrap to disagree
    * on. One digest serves any number of hash functions. */
  val KmP = 2147483647L // 2^31 - 1
  def kmA(i: Int): Long = 2L * i + 1
  def kmB(i: Int): Long = 1000003L * i + 12345
  def kmC(i: Int): Long = 999331L * i + 7

  /** MinHash+LSH candidate pairs: k-shingles → `numHashes` minhashes →
    * bands of `rowsPerBand` → per-(band, bucket) doc lists → ordered-
    * pair expansion. Returns distinct candidate pairs with the number
    * of colliding bands (more bands ⇒ higher estimated similarity).
    *
    * Cost per shingle is ONE md5 + two hex parses + `numHashes` cheap
    * codegen'd integer ops (the K-M family above) — NOT one digest per
    * hash index, so widening the signature from 4 to 64 hashes barely
    * moves the dominant hashing cost. Each projection stage is
    * materialized separately so shingling and hashing run once per
    * doc. */
  /** `maxBucket` caps the per-(band, bucket) doc list before the
    * quadratic pair expansion — buckets past the cap are dropped, the
    * standard LSH guard against giant near-identical groups (their
    * members are caught far cheaper by [[exact]] dedup first). Unlimited
    * by default so results are cap-free unless the caller opts in. */
  def minhashLsh(docs: DataFrame, id: String, text: String, k: Int,
                 numHashes: Int, rowsPerBand: Int,
                 maxBucket: Int = Int.MaxValue): DataFrame =
    minhashPairsFromBands(
      minhashBandIndex(docs, id, text, k, numHashes, rowsPerBand), maxBucket)

  /** Candidate pairs from an already-banded `(doc, band, bucket)` frame
    * ([[minhashBandIndex]]) — a sort-free hash agg + declarative pair
    * expansion (same shape as ngramJaccard; a self-join would sort the
    * banded table twice). Callers that band once and reuse (the
    * [[graft.pipelines.CorpusPipeline]] cycle probes, pairs AND commits
    * from one signing pass) call this directly. */
  def minhashPairsFromBands(bands: DataFrame,
                            maxBucket: Int = Int.MaxValue): DataFrame =
    bands.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc"))).as("ds"))
      .filter(size(col("ds")).between(2, maxBucket))
      .select(explode(Dedup.orderedPairs(col("ds"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))

  /** The LSH BAND INDEX: one `(doc, band, bucket)` row per band — what
    * an incremental ingestion pipeline persists alongside the corpus so
    * new batches can be dedup-checked without re-signing the archive
    * ([[minhashLshAgainst]]). Also the first half of [[minhashLsh]]. */
  def minhashBandIndex(docs: DataFrame, id: String, text: String, k: Int,
                       numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0)
    val shs = docs.select(col(id).as("doc"),
      shingles(col(text), k).as("shs"))
    // explode → one codegen'd projection per shingle (md5 is subexpr-
    // eliminated across the two hex slices) → numHashes running minima
    // via a map-side-combined groupBy. Everything stays in whole-stage
    // codegen — the array/HOF spelling pays an interpreted array pass
    // per hash index — and the signature shuffle is one (doc, numHashes
    // longs) row per doc per mapper.
    val hashed = shs.select(col("doc"), explode(col("shs")).as("sh"))
      .select(col("doc"),
        conv(substring(md5(col("sh")), 1, 7), 16, 10).cast("long").as("h1"),
        conv(substring(md5(col("sh")), 9, 7), 16, 10).cast("long").as("h2"))
    val minCols = (0 until numHashes).map(i =>
      min((lit(kmA(i)) * col("h1") + lit(kmB(i)) * col("h2") + lit(kmC(i)))
        % lit(KmP)).as(s"mh$i"))
    val sig = hashed.groupBy(col("doc"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc"),
        array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"))
    val numBands = numHashes / rowsPerBand
    sig.select(col("doc"), posexplode(
      array((0 until numBands).map(bnd =>
        md5(concat_ws("|", transform(
          slice(col("sig"), bnd * rowsPerBand + 1, rowsPerBand),
          x => x.cast("string"))))
      ): _*)).as(Seq("band", "bucket")))
  }

  /** Incremental dedup probe — "dedup before append": near-dup
    * candidates between an INCOMING batch and an existing corpus's
    * persisted [[minhashBandIndex]], without touching archive text.
    * The batch is signed+banded (one pass over the batch only) and
    * joined bucket-locally against the index on `(band, bucket)`;
    * `n_bands` counts agreeing bands per (new, existing) pair, the
    * same collision-strength signal [[minhashLsh]] reports. `maxBucket`
    * drops index buckets past the cap before the join (one map-side-
    * combined count over the index — the skew guard for archive-scale
    * hot buckets; uncapped by default for cap-free results). */
  def minhashLshAgainst(index: DataFrame, docs: DataFrame, id: String,
                        text: String, k: Int, numHashes: Int,
                        rowsPerBand: Int,
                        maxBucket: Int = Int.MaxValue): DataFrame =
    minhashProbeBands(index,
      minhashBandIndex(docs, id, text, k, numHashes, rowsPerBand), maxBucket)

  /** As [[minhashLshAgainst]] with the probe side already banded — the
    * band-once/consume-thrice seam. */
  def minhashProbeBands(index: DataFrame, probeBands: DataFrame,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    val idx0 = index.select(col("doc").as("match_id"), col("band"), col("bucket"))
    val idx =
      if (maxBucket == Int.MaxValue) idx0
      else idx0.join(
        idx0.groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxBucket)
          .select("band", "bucket"),
        Seq("band", "bucket"), "left_semi")
    probeBands
      .select(col("doc").as("doc_id"), col("band"), col("bucket"))
      .join(idx, Seq("band", "bucket"))
      .groupBy(col("doc_id"), col("match_id"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** 64-bit SimHash over tokens: per-bit majority vote of token hashes.
    * Bit j of token t = bit j of xxhash64(t); weight = token frequency.
    *
    * One native [[graft.functions.expressions.SimHash64]] expression —
    * a single codegen'd pass over the document bytes in the projection.
    * The previous explode → xxhash64 → 64-conditional-sum groupBy
    * spelling shuffled one row per token occurrence; this shuffles
    * nothing. */
  def simhash(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.expressions.SimHash64(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            lower(col(text))))).as("simhash"))

  /** 60-bit simhash over the portable md5-slice hash family — same
    * vote semantics as [[simhash]], but every stage downstream
    * (signature, chunk bucketing, hamming) is reproducible bit-for-bit
    * by any engine with md5, so the whole near-dup pipeline is
    * oracle-verifiable. */
  def simhashPortable(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.expressions.SimHash60(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            lower(col(text))))).as("simhash"))

  /** SimHash near-dup candidates: bucket by the 4 15-bit chunks of the
    * portable 60-bit signature (pigeonhole: hamming distance <= 3
    * guarantees one exact chunk match; larger `maxHamming` keeps the
    * same bucketing as approximate candidate generation), verify
    * hamming distance within buckets. Built on [[simhashPortable]] so
    * the full pipeline hash-matches the DuckDB oracle. */
  def simhashNearDup(docs: DataFrame, id: String, text: String,
                     maxHamming: Int, maxBucket: Int = Int.MaxValue): DataFrame =
    simhashPairs(simhashPortable(docs, id, text), maxHamming, maxBucket)

  /** Hamming-ball candidate pairs over ANY pre-computed 60-bit
    * signature frame `(doc, simhash)` — the chunk-bucket machinery
    * behind [[simhashNearDup]], reused by signatures that are not
    * text-derived (e.g. multimodal perceptual hashes). Buckets by the
    * 4 15-bit chunks (pigeonhole: hamming ≤ 3 guarantees one exact
    * chunk match), verifies hamming within buckets. */
  def simhashPairs(sig: DataFrame, maxHamming: Int,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    val chunked = sig.select(col("doc"), col("simhash"), posexplode(
      array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 15).bitwiseAND(lit(0x7FFFL))): _*))
      .as(Seq("chunk", "key")))
    // per-(chunk, key) buckets → pair expansion (sort_array orders the
    // structs by doc, so expansion order reproduces a.doc < b.doc);
    // distinct dedups pairs colliding in several chunks
    chunked.groupBy(col("chunk"), col("key"))
      .agg(sort_array(collect_list(struct(col("doc"), col("simhash")))).as("ds"))
      .filter(size(col("ds")).between(2, maxBucket))
      .select(explode(Dedup.orderedPairs(col("ds"))).as("p"))
      .select(col("p.a.doc").as("doc_a"), col("p.b.doc").as("doc_b"),
        bit_count(col("p.a.simhash").bitwiseXOR(col("p.b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** EDIT-DISTANCE near-dup pairs over a SHORT key column — the record-
    * linkage / fuzzy-join primitive (matching titles, names, product
    * labels; not document bodies — for those the shingle family above
    * is the right tool): candidate pairs share at least one q-gram of
    * the key, then the exact `levenshtein` (integer unit-cost edit
    * distance — identical by definition in every engine, so the whole
    * operator is oracle-reproducible) verifies `≤ maxDist` inside the
    * bucket. Emits `(doc_a, doc_b, edit_dist)` with `doc_a < doc_b`.
    *
    * RECALL is complete when the shorter key has more than
    * `maxDist · q` q-grams (i.e. `len ≥ q·(maxDist+1)`): ≤ maxDist
    * edits can destroy at most `maxDist·q` grams, so one gram survives
    * CONTENT-intact (shifts don't matter — buckets key on content, not
    * position) and lands both keys in one bucket. Keys shorter than
    * `q` bucket whole. A cheap length-band filter (`|len_a − len_b| ≤
    * maxDist`, a levenshtein lower bound) prunes candidates before the
    * dynamic-programming verify.
    *
    * Scale shape: the e2/e3 discipline — per-gram buckets assembled
    * with one sort-free hash aggregation, expanded to ordered pairs
    * natively, verification strictly bucket-local; `maxBucket` is the
    * stop-gram valve (ubiquitous grams pair everything with
    * everything; drop those buckets, recall rides the rarer grams). */
  def fuzzyPairs(df: DataFrame, id: String, key: String, maxDist: Int,
                 q: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0 && q >= 1)
    val base = df.select(col(id).as("doc"), col(key).as("k"))
      .filter(col("k").isNotNull)
    val grams = base.withColumn("g", explode(
      when(length(col("k")) < q, array(col("k")))
        .otherwise(array_distinct(transform(
          sequence(lit(1), length(col("k")) - (q - 1)),
          i => col("k").substr(i, lit(q)))))))
    grams.groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("doc"), col("k")))).as("ds"))
      .filter(size(col("ds")).between(2, maxBucket))
      .select(explode(orderedPairs(col("ds"))).as("p"))
      .select(col("p.a.doc").as("doc_a"), col("p.b.doc").as("doc_b"),
        col("p.a.k").as("k_a"), col("p.b.k").as("k_b"))
      .distinct()
      .filter(abs(length(col("k_a")) - length(col("k_b"))) <= maxDist)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("k_a"), col("k_b")).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  /** Dedup cluster assignment: connected components over a near-dup
    * pair graph via iterative min-label propagation — every doc ends up
    * labelled with the smallest doc id reachable from it, i.e. the
    * cluster's canonical keeper.
    *
    * Scale shape: each iteration is one symmetric-edge join + grouped
    * min + label join (all shuffles on the id key). With `twoHop` (the
    * default) each iteration ALSO pointer-jumps through the label
    * forest — `label(x) := min(label(x), label(label(x)))` via one
    * extra labels-sized self-join — so labels reach two hops per
    * round and iterations drop from component diameter to its
    * logarithm (path-halving, the classic PRAM connectivity trick;
    * spec-asserted on a path graph). Star/pair clusters — the
    * overwhelming dup-graph shape — are already converged at the seed
    * either way. Lineage is cut per iteration with `localCheckpoint`
    * (the standard iterative-graph pattern — GraphX/GraphFrames do the
    * same) so plans don't grow exponentially. The loop runs on
    * [[Pins.iterate]]: the changed-row count rides each label pin's
    * pass, and labels still changing after `maxIter` rounds throw an
    * error naming the loop — never a partial clustering.
    */
  def clusters(pairs: DataFrame, a: String, b: String,
               maxIter: Int = 20, twoHop: Boolean = true): DataFrame =
    clustersIter(pairs, a, b, maxIter, twoHop)._1

  /** As [[clusters]], also returning the iteration count — the number
    * the path-graph spec compares across propagation modes. */
  private[graft] def clustersIter(pairs: DataFrame, a: String, b: String,
                                  maxIter: Int = 20,
                                  twoHop: Boolean = true): (DataFrame, Int) = {
    // materialize the (small) edge list once — every iteration joins it,
    // and without the cut each join would re-derive the full upstream
    // pair-generation pipeline. Laid out by "y", the per-round join key
    // (r16): the pin carries the layout, so propagate joins never
    // re-exchange the edge side; the label side is a measured pinned
    // leaf every round (broadcast-hash when small, co-partitioned at
    // scale).
    val edges = Pins.pinBy(pairs.select(col(a).as("x"), col(b).as("y"))
      .union(pairs.select(col(b).as("x"), col(a).as("y"))), "y")
    // seed label = min(id, min direct neighbor): the edge list is
    // symmetric so every id appears as x, and pair/star clusters are
    // already converged at the seed — one grouped min replaces a whole
    // propagate iteration. The changed flag (label < id) rides the pin:
    // it is the DELTA FRONTIER the next round propagates from, and its
    // count is the convergence witness observed on each pin's pass.
    val seed = edges.groupBy(col("x").as("id"))
      .agg(min(col("y")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("label"),
        (col("mn") < col("id")).as("changed"))
    val nChanged = count(when(col("changed"), lit(1))).as("n_changed")
    val (labelsPin, _, rounds) = Pins.iterate("Dedup.clusters",
        Pins.pinObserved(seed, "Dedup.clusters/seed", nChanged), maxIter,
        nChanged) { labels =>
      // Delta propagation (r17, guide §2.3 "shuffle fewer bytes"): only
      // labels that CHANGED last round can lower a neighbor this round.
      // Exact, not approximate — an unchanged neighbor y has
      // label_i(y) = label_{i-1}(y), and the previous round already
      // folded label_{i-1}(y) into every x ~ y (induction from the
      // seed, which IS the full one-hop pass), so its contribution is
      // a no-op. The frontier shrinks monotonically; late rounds join
      // the edge list against a near-empty build side.
      val contrib = edges.join(
          labels.filter(col("changed"))
            .select(col("id").as("y"), col("label").as("nbr")), Seq("y"))
        .select(col("x").as("id"), col("nbr"),
          lit(null).cast(labels.schema("label").dataType).as("old"))
      // One grouped pass merges the neighbor minimum with the node's own
      // label — the r16 shape's separate labels⋈prop left join cost an
      // extra exchange + join per round (guide §2.4 "remove shuffles
      // outright"). Every id has exactly one labels row, so max(old)
      // recovers the previous label for the changed flag.
      val cand = contrib.unionByName(
          labels.select(col("id"), col("label").as("nbr"),
            col("label").as("old")))
        .groupBy(col("id"))
        .agg(min(col("nbr")).as("cand"), max(col("old")).as("label"))
      // labels only ever decrease, so "changed" is just new < old
      if (!twoHop) cand.select(col("id"), col("cand").as("label"),
        (col("cand") < col("label")).as("changed"))
      else {
        // pointer jump through the PREVIOUS round's pinned labels — a
        // measured LEAF (broadcast-hash when node-sized, co-partitioned
        // at scale) — instead of the round's own unmaterialized cand
        // frame, whose self-join re-derived the entire propagate
        // subtree per round (the r16 plans show the duplicated
        // pipeline + an extra cand-keyed exchange and two sorts). The
        // stale jump still halves paths (any label IS a node id whose
        // previous label is a valid, smaller reachable id); the
        // one-hop part stays complete, so the fixpoint is identical —
        // convergence detection is unchanged (a round with no change).
        val j = labels.select(col("id").as("__jid"), col("label").as("__jlab"))
        cand.join(j, col("cand") === col("__jid"), "left")
          .select(col("id"),
            least(col("cand"), coalesce(col("__jlab"), col("cand")))
              .as("__fin"), col("label").as("__old"))
          .select(col("id"), col("__fin").as("label"),
            (col("__fin") < col("__old")).as("changed"))
      }
    } { (_, row, _) => row.getLong(0) == 0L }
    // the returned frame reads only the final label pin; the edge pin
    // is dead once the loop has converged
    Pins.release(edges)
    (labelsPin.select(col("id").as("doc_id"), col("label").as("cluster_id")), rounds)
  }

  /** APPLY a near-dup clustering as an actual corpus dedup: keep each
    * cluster's canonical keeper (the min-id label, which is its own
    * cluster id by [[clusters]]' construction) plus every unclustered
    * document — the transform the pair/cluster REPORTS (e2-e6) feed.
    * One left join against the (dimension-sized next to the corpus)
    * cluster table, no window; `broadcastClusters = false` for a
    * heavily-duplicated corpus whose cluster table is fact-sized
    * (same opt-out as [[Curation.leakageSafeSplit]]). */
  def applyClusters(docs: DataFrame, id: String, clusters: DataFrame,
                    docCol: String, clusterCol: String,
                    broadcastClusters: Boolean = true): DataFrame = {
    val cl0 = clusters.select(col(docCol).as(id), col(clusterCol).as("__cl"))
    val cl = if (broadcastClusters) broadcast(cl0) else cl0
    docs.join(cl, Seq(id), "left")
      .filter(col("__cl").isNull || col("__cl") === col(id))
      .drop("__cl")
  }

  /** SOFT dedup (E13): instead of DROPPING near-duplicates
    * ([[applyClusters]]), weight every document by the inverse of its
    * duplicate-cluster size — `weight_ppm = 10^6 div cluster_size` —
    * so a downstream sampler (K7/K10) sees each duplicated CONTENT
    * with total mass ~1 however many copies exist. This is the
    * dedup-as-reweighting regime (e.g. SoftDeDup, Xue et al. 2024;
    * and the D4 pipeline's cluster-proportional downsampling): hard
    * dedup discards intra-cluster variation (formatting, boilerplate
    * deltas) that can carry signal; soft dedup keeps every copy but
    * makes the epoch-level token distribution match the deduped one
    * in expectation. Unclustered docs weigh exactly 10^6; the ppm
    * integer `div` floors identically cross-engine.
    *
    * Output: `(id, cluster_id, cluster_size, weight_ppm)` for EVERY
    * doc (cluster_id = own id when unclustered) — join it to the
    * corpus and feed the weight to any sampler.
    *
    * Scale shape: clustering is [[clusters]]' pair-graph-sized label
    * propagation; the size rollup is cluster-count-sized and the
    * final join back to docs is one id-keyed equi-join (broadcast-able
    * next to the corpus, same `broadcastClusters` dial as
    * [[applyClusters]]). */
  def softDedupWeights(docs: DataFrame, id: String, pairs: DataFrame,
                       a: String, b: String,
                       broadcastClusters: Boolean = true): DataFrame = {
    val cl = clusters(pairs, a, b)
    val sized = cl.join(
      cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("__sz")),
      Seq("cluster_id"))
      .select(col("doc_id").as(id), col("cluster_id"), col("__sz"))
    val dim = if (broadcastClusters) broadcast(sized) else sized
    docs.select(col(id)).join(dim, Seq(id), "left")
      .select(col(id),
        coalesce(col("cluster_id"), col(id)).as("cluster_id"),
        coalesce(col("__sz"), lit(1L)).as("cluster_size"),
        expr("CAST(1000000 div coalesce(__sz, 1) AS BIGINT)")
          .as("weight_ppm"))
  }

  /** Inter-document span duplication: for each doc, the fraction of its
    * distinct k-shingles that occur in at least one OTHER document —
    * sub-document-granularity duplication that document-level dedup
    * (E1-E6) can't see, the signal exact-substring dedup targets (Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022) at span granularity.
    *
    * Shape: ONE shingle pass (native, per-doc distinct), anchored on a
    * `repartition(sh)` exchange that BOTH consumers — the per-shingle
    * doc-frequency aggregation and the join probe side — read back, so
    * the corpus is scanned and shingled exactly once (ReusedExchange;
    * PlanSpec-asserted, the same anchor trick as
    * [[Curation.contaminationSplit]]). The df branch aggregates
    * `count(doc)` rather than `count(1)` deliberately: with `count(1)`
    * column pruning drops `doc` from the aggregate's subtree, the two
    * exchange subtrees stop being canonically equal, and Spark silently
    * plans a second scan — the round-2 defect. No doc-list
    * materialization anywhere: a stop-shingle's bucket is one long, not
    * a collected array. Rows are distinct per (doc, shingle) by
    * construction, so df = number of documents containing the shingle
    * and df>1 means "some OTHER doc has it". Linear in shingle mass,
    * two shuffles + one join, one scan. */
  def sharedShingleRatio(docs: DataFrame, id: String, text: String,
                         k: Int, hashShingleKeys: Boolean = false): DataFrame = {
    // `hashShingleKeys` shuffles the 60-bit md5 slice of each shingle
    // instead of the k-word string — 8 bytes per anchored-exchange row
    // instead of ~k words. MEASURED (ScaleProbe 16×): −35% shuffle-
    // write bytes (95 → 62 MB) for ~+0.3 s of md5 CPU at this scale —
    // the one family member where hashing genuinely pays on a
    // network-bound cluster; default stays off so the local/CPU-bound
    // profile keeps the cheaper plan, flip it when the exchange is the
    // bottleneck. The df metric is collision-tolerant: a cross-doc key
    // collision (birthday ≈ n²/2^61 over the corpus shingle
    // vocabulary) can at worst flip one shingle's df>1 bit, a
    // vanishing perturbation of a ratio REPORT (contrast e7, which is
    // a TRANSFORM and gets 120-bit keys). Mode equality is
    // spec-asserted on test data.
    val keys =
      if (hashShingleKeys) transform(shingles(col(text), k), hashKey60(_))
      else shingles(col(text), k)
    // ids are keys: a null-id doc would be excluded from df by the
    // count(doc) aggregate yet still probe the join — drop it up front
    // so both sides agree (and both subtrees stay canonically equal)
    val e = docs.filter(col(id).isNotNull)
      .select(col(id).as("doc"), explode(keys).as("sh"))
      .repartition(col("sh"))
    val df = e.groupBy("sh").agg(count(col("doc")).as("df"))
    e.join(df, Seq("sh"))
      .groupBy(col("doc").as("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ratio", graft.functions.Portable.pround(
        col("n_shared").cast("double") / col("n_sh"), 4))
  }

  /** EXACT REPEATED-SPAN REMOVAL — the transform the span-duplication
    * report ([[sharedShingleRatio]]) only measures: every k-token span
    * occurring MORE THAN ONCE corpus-wide (including twice in one doc)
    * is deleted from every document, and the text is rebuilt from the
    * surviving tokens — Lee et al. (ACL 2022)'s exact-substring
    * deduplication at k-token granularity. Returns one row per doc:
    * `(doc_id, n_tokens, n_kept, clean_text)`.
    *
    * Shape: ONE scan (PlanSpec-asserted). The tokenized projection is
    * anchored on a `repartition(doc)` exchange with exactly TWO
    * identical-shaped consumers — the positional k-gram table and the
    * positional token table — so the exchange is reused, not re-derived
    * (a third doc-length branch would prune differently and silently
    * re-scan; doc lengths come out of the token aggregation instead).
    * The k-gram table is anchored again on the span key so the
    * occurrence-count aggregation and the probe side share one exchange
    * (the [[sharedShingleRatio]] trick — `count(p)` not `count(1)`, so
    * pruning can't split the subtrees). Duplicated spans explode to
    * covered positions; tokens LEFT-join the covered set and ONE
    * grouped pass per doc counts totals, counts survivors, and rebuilds
    * the text (collect_list skips the nulls the `when` leaves on
    * covered tokens; `posexplode_outer` keeps zero-token docs alive).
    * Token-level shuffles are inherent to exact-substring dedup; every
    * one is keyed and linear in token mass — nothing quadratic, nothing
    * collected. Docs shorter than k tokens have no k-spans and pass
    * through verbatim.
    *
    * `hashSpanKeys` shuffles a 120-BIT key (two 60-bit md5 slices as a
    * struct) instead of the k-word span string — 16 bytes per span row
    * on the span-keyed exchange. Unlike the 60-bit report keys
    * ([[sharedShingleRatio]]), a TRANSFORM can't shrug off a collision
    * (it would delete an innocent span corpus-wide), so the key is wide
    * enough that the birthday bound stays vanishing at 100 TB span
    * counts (S²/2^121 ≈ 4e-13 at S = 10^12). One md5 per span feeds
    * both halves. MEASURED (ScaleProbe 16×, re-confirmed r15 at the
    * 256-partition/64× cluster profile): hashed keys shuffle MORE here
    * (309 → 332 MB at 16×; 1.70 → 1.75 GB at 64× — random digest
    * structs defeat the lz4 compression that overlapping span text
    * invites), pay md5 CPU, and are strictly SLOWER at the cluster
    * profile (28.6 vs 20.1 s at 256p/64×, reproduced twice) — the
    * 32-partition sort-pressure win that once justified the knob does
    * not transfer, so plain keys are THE recommendation and the hashed
    * mode is retired to a measured exhibit (SCALEPROBE_64x note_r15).
    * Mode equality is spec-asserted. */
  def removeRepeatedSpans(docs: DataFrame, id: String, text: String,
                          k: Int, hashSpanKeys: Boolean = false,
                          keepFirst: Boolean = false): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col(text))
    // ids are keys: null-id rows are dropped up front — EVERY branch
    // then sits above the same isnotnull-filtered scan (the left join
    // below infers isnotnull(doc) on its right side; filtering early
    // keeps the two anchored-exchange subtrees canonically equal, else
    // the probe branch silently re-scans with the inferred filter)
    val base = docs.filter(col(id).isNotNull)
      .select(col(id).as("doc"), toks.as("tk"))
      .repartition(col("doc"))
    // positional k-grams: span p covers token positions [p, p+k)
    val spanStrs = transform(sequence(lit(0), size(col("tk")) - k),
      p => array_join(slice(col("tk"), p + 1, lit(k)), " "))
    // hashed mode: nested transform so each span is md5'd ONCE and both
    // 60-bit halves slice the same digest (two md5 calls per span
    // otherwise — HOF lambdas don't subexpression-eliminate)
    val (spanKeys, emptyKeys) =
      if (hashSpanKeys)
        (transform(transform(spanStrs, s => md5(s)), m => struct(
          conv(substring(m, 1, 15), 16, 10).cast("long").as("h1"),
          conv(substring(m, 17, 15), 16, 10).cast("long").as("h2"))),
          array().cast("array<struct<h1:bigint,h2:bigint>>"))
      else (spanStrs, array().cast("array<string>"))
    val grams = base.select(col("doc"),
        posexplode(when(size(col("tk")) >= k, spanKeys)
          .otherwise(emptyKeys)).as(Seq("p", "s")))
      .repartition(col("s"))
    // Occurrence counts as a WINDOW over the span key, not a grouped
    // count joined back (r17): the join spelling's two consumers of the
    // span-keyed exchange were split by column pruning (the occ branch
    // prunes doc/p under the exchange, so the subtrees stop being
    // canonically equal and ReusedExchange never fires — the r16 e7
    // plans show TWO hashpartitioning(s) exchanges, each re-deriving
    // the O(tokens·k) span-string transform). The window rides ONE
    // exchange + one in-partition sort of the span rows; the transform
    // runs once (guide §2.4 "two operations keyed the same way share
    // one exchange" — here collapsed into one operator outright). The
    // keepFirst keeper (min (doc, p)) rides the SAME window partition —
    // its old span-keyed agg + second join disappear too. Values are
    // identical: count per span, min (doc, p) per span. Skew note: one
    // degenerate hot span buffers its peer group in the window's
    // spillable row buffer — bounded by the same token mass the join
    // spelling's post-join explode carried.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
    val counted = grams.withColumn("occ", count(lit(1)).over(w))
    val flagged =
      if (!keepFirst) counted.filter(col("occ") > 1)
      else counted
        .withColumn("__kp", min(struct(col("doc"), col("p"))).over(w))
        .filter(col("occ") > 1 &&
          !(col("doc") === col("__kp.doc") && col("p") === col("__kp.p")))
    val covered = flagged
      .select(col("doc"), explode(sequence(col("p"), col("p") + (k - 1))).as("pos"))
      .distinct()
      .withColumn("__cov", lit(1))
    val tokens = base.select(col("doc"),
      posexplode_outer(col("tk")).as(Seq("pos", "w")))
    val keepToken = col("pos").isNotNull && col("__cov").isNull
    tokens.join(covered, Seq("doc", "pos"), "left")
      .groupBy(col("doc").as("doc_id"))
      .agg(count(col("pos")).as("n_tokens"),
        sum(when(keepToken, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(keepToken, struct(col("pos"), col("w"))))),
          x => x("w")), " ").as("clean_text"))
  }

  /** Embedding near-dup: cosine >= threshold within coarse partitions
    * (`clusterCol` plays the IVF cell). Pairs are generated per cluster
    * — an equi-join on the cluster key — never a cross product.
    *
    * `maxCluster` is the same valve as [[minhashLsh]]'s `maxBucket`:
    * the pair expansion is quadratic in the largest cluster, so one
    * mega-cluster (near-duplicate-heavy corpora have them) melts a
    * reducer without a cap. Clusters past the cap are dropped before
    * the join — their members are caught far cheaper by [[exact]]
    * dedup or [[minhashLsh]] first. Unlimited by default so results
    * are cap-free unless the caller opts in. */
  def embeddingNearDup(emb: DataFrame, id: String, vec: String,
                       clusterCol: String, threshold: Double,
                       maxCluster: Int = Int.MaxValue): DataFrame = {
    val normed0 = emb.select(col(id).as("vid"), col(clusterCol).as("cl"),
      Similarity.l2normalize(col(vec)).as("v"))
    val normed =
      if (maxCluster == Int.MaxValue) normed0
      else normed0.join(
        normed0.groupBy("cl").agg(count(col("vid")).as("__n"))
          .filter(col("__n") <= maxCluster).select("cl"),
        Seq("cl"), "left_semi")
    val a = normed.as("a"); val b = normed.as("b")
    a.join(b, col("a.cl") === col("b.cl") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        graft.functions.Portable.pround(
          Similarity.dot(col("a.v"), col("b.v")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
