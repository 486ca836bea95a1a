package graft

import graft.operators.Graphs
import org.apache.spark.sql.functions._

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hand-computed exact integer ranks on A<->B plus a feeder C") {
    // edges A->B, B->A, C->A; scale 1e6, damp 85/100, base 150000.
    // iter1: A = 150000 + 85%·(1e6 + 1e6) = 1850000, B = 1000000,
    //        C = 150000 (no inbound)
    // iter2: A = 150000 + 85%·(1000000 + 150000) = 1127500,
    //        B = 150000 + 85%·1850000 = 1722500, C = 150000
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("s", "t")
    val got = Graphs.pageRank(edges, "s", "t", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1127500L, 2L -> 1722500L, 3L -> 150000L))
  }

  test("hits: hand-computed exact integer hubs/authorities on a 2-hub 2-authority graph") {
    // edges 1->3, 2->3, 2->4; scale 1e6, one round:
    //   auth raw: 3 = h(1)+h(2) = 2e6, 4 = h(2) = 1e6, total 3e6
    //   auth: 3 = (2e6·1e6) div 3e6 = 666666, 4 = 333333
    //   hub raw: 1 = a(3) = 666666, 2 = a(3)+a(4) = 999999,
    //            total 1666665
    //   hub: 1 = 666666e6 div 1666665 = 400000 (exact),
    //        2 = 999999e6 div 1666665 = 600000 (exact)
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("s", "t")
    val got = Graphs.hits(edges, "s", "t", iters = 1)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((400000L, 0L)), 2L -> ((600000L, 0L)),
      3L -> ((0L, 666666L)), 4L -> ((0L, 333333L))))
  }

  test("hits: mutual reinforcement orders hubs by authority quality, not just degree") {
    // hubs 1 and 2 both have out-degree 2, but hub 2 points at the
    // strong authority (5, cited by everyone) twice-removed — after
    // convergence rounds the hub covering the consensus authority
    // outranks the one spending an edge on a singleton; duplicate
    // edges collapse; a pure authority has hub 0 and vice versa
    val edges = Seq(
      (1L, 5L), (1L, 6L),        // hub 1: consensus + fringe
      (2L, 5L), (2L, 7L),        // hub 2: consensus + fringe
      (3L, 5L), (3L, 5L),        // hub 3: consensus only (dup edge)
      (4L, 6L))                  // hub 4: fringe only
      .toDF("s", "t")
    val got = Graphs.hits(edges, "s", "t", iters = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // authorities: 5 (three hubs) > 6 (two) > 7 (one)
    assert(got(5L)._2 > got(6L)._2 && got(6L)._2 > got(7L)._2)
    // hubs: 1 and 2 tie by symmetry... no — 6 is cited by {1,4},
    // 7 by {2} only, so hub 1 > hub 2 > hub 4; hub 3 rides the top
    // authority alone
    assert(got(1L)._1 > got(2L)._1 && got(2L)._1 > got(4L)._1)
    // pure authorities have hub 0; pure hubs have authority 0
    assert(got(5L)._1 == 0L && got(1L)._2 == 0L)
    // renormalization keeps total mass at ~scale (floor loss < nodes)
    val hubSum = got.values.map(_._1).sum
    val authSum = got.values.map(_._2).sum
    assert(hubSum > 1000000L - 7 && hubSum <= 1000000L)
    assert(authSum > 1000000L - 7 && authSum <= 1000000L)
  }

  test("pageRank: duplicate edges collapse; dangling sinks keep the base share") {
    // A->B listed twice must count once (outdeg(A) = 1, not 2); B has
    // no out-edges — its mass is dropped, it still receives A's share
    val edges = Seq((1L, 2L), (1L, 2L)).toDF("s", "t")
    val got = Graphs.pageRank(edges, "s", "t", iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150000L, 2L -> 1000000L))
    val got2 = Graphs.pageRank(edges, "s", "t", iters = 2)
      .as[(Long, Long)].collect().toMap
    // iter2: A gets nothing (B is dangling), B gets 85%·150000
    assert(got2 == Map(1L -> 150000L, 2L -> 277500L))
  }

  test("pageRank: symmetric cycles are fixed points of the integer update") {
    // in a 2-cycle each node forwards its whole rank — 150000 +
    // (85·1000000) div 100 = 1000000 exactly, at every iteration
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("s", "t")
    val got = Graphs.pageRank(edges, "s", "t", iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("pageRank weighted: proportional splits, floored share before the weight, dup edges pre-sum") {
    // A->B w=3, A->C w=1: A splits 3:1 — B gets (1e6 div 4)*3, C the rest
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("s", "t", "w")
    val got = Graphs.pageRank(edges, "s", "t", iters = 1, weight = Some("w"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150000L, 2L -> 787500L, 3L -> 362500L))
    // the same edge listed twice pre-sums its weight (w=2+2 ≡ w=4 once)
    val dup = Seq((1L, 2L, 2L), (1L, 2L, 2L), (1L, 3L, 4L)).toDF("s", "t", "w")
    val got2 = Graphs.pageRank(dup, "s", "t", iters = 1, weight = Some("w"))
      .as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 150000L, 2L -> 575000L, 3L -> 575000L))
    intercept[IllegalArgumentException] {
      Graphs.pageRank(Seq((1L, 2L, 0L)).toDF("s", "t", "w"),
        "s", "t", iters = 1, weight = Some("w"))
    }
  }

  test("pageRank personalized: only seeds restart, ranks measure proximity to them") {
    // 2-cycle with seed {A}: B's rank is pure A-proximity mass, A keeps
    // the restart share plus what B returns
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("s", "t")
    val seeds = Seq(1L).toDF("node")
    val got = Graphs.pageRank(edges, "s", "t", iters = 2,
      seeds = Some(seeds)).as[(Long, Long)].collect().toMap
    // iter1: A = 150000 + 0, B = 0 + 85%·1000000 = 850000
    // iter2: A = 150000 + 85%·850000 = 872500, B = 0 + 85%·150000 = 127500
    assert(got == Map(1L -> 872500L, 2L -> 127500L))
    // a seed absent from the graph injects nothing: all ranks zero
    val got2 = Graphs.pageRank(edges, "s", "t", iters = 2,
      seeds = Some(Seq(99L).toDF("node"))).as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 0L, 2L -> 0L))
  }

  test("connectedComponents: min-reachable-id labels on two islands plus a singleton edge") {
    // island {1,2,3} (path), island {7,9} — labels are each island's min
    val edges = Seq((2L, 1L), (2L, 3L), (9L, 7L)).toDF("a", "b")
    val got = Graphs.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("cooccurrence: distinct-basket support, a<b canonical pairs, support floor") {
    // baskets: 10 -> {1,2,3}, 20 -> {1,2}, 30 -> {2,1} (dup rows collapse),
    // 40 -> {5}. (1,2) in three baskets, (1,3)/(2,3) once each
    val rows = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 2L), (20L, 1L),
      (30L, 1L), (30L, 2L), (30L, 2L), (40L, 5L)).toDF("bk", "it")
    val all = Graphs.cooccurrence(rows, "bk", "it", minSupport = 1L)
      .as[(Long, Long, Long)].collect().toSet
    assert(all == Set((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 1L)))
    val sup2 = Graphs.cooccurrence(rows, "bk", "it", minSupport = 2L)
      .as[(Long, Long, Long)].collect().toSet
    assert(sup2 == Set((1L, 2L, 3L)))
  }

  test("cooccurrence: the maxBasket valve drops mega-baskets entirely, loudly bounded") {
    // basket 1 has 5 items (above the valve of 4) — contributes NOTHING;
    // basket 2's pair survives
    val rows = ((1 to 5).map(i => (1L, i.toLong)) ++ Seq((2L, 1L), (2L, 2L)))
      .toDF("bk", "it")
    val got = Graphs.cooccurrence(rows, "bk", "it",
      minSupport = 1L, maxBasket = 4).as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L)))
    intercept[IllegalArgumentException] {
      Graphs.cooccurrence(rows, "bk", "it", maxBasket = 1)
    }
  }

  test("triangles: per-node counts on K4 minus an edge, zeros reported, hub skew exact") {
    // K4 on {1,2,3,4} minus edge (3,4): triangles (1,2,3) and (1,2,4);
    // node 5 only touches 6 — both in no triangle. Edges arrive in
    // mixed orientation and with duplicates.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 2L),
      (2L, 1L), (5L, 6L)).toDF("a", "b")
    val got = Graphs.triangles(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L,
      5L -> 0L, 6L -> 0L))
  }

  test("triangles: a star has none; closing one spoke pair makes exactly one") {
    // hub 1 with spokes 2..6 — zero triangles (the link-farm shape);
    // adding (2,3) closes exactly the (1,2,3) triangle
    val star = (2L to 6L).map(s => (1L, s)).toDF("a", "b")
    assert(Graphs.triangles(star, "a", "b")
      .agg(sum("triangles")).as[Long].head() == 0L)
    val closed = ((2L to 6L).map(s => (1L, s)) :+ (2L, 3L)).toDF("a", "b")
    val got = Graphs.triangles(closed, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L,
      5L -> 0L, 6L -> 0L))
  }

  test("pageRank guards: iteration bounds and damping fail loudly") {
    val edges = Seq((1L, 2L)).toDF("s", "t")
    intercept[IllegalArgumentException] {
      Graphs.pageRank(edges, "s", "t", iters = 0)
    }
    intercept[IllegalArgumentException] {
      Graphs.pageRank(edges, "s", "t", iters = 2, dampNum = 100L)
    }
  }

  test("neighborJaccard: opposite square corners are perfect structural twins") {
    // square 1-2-3-4-1: N(1) = N(3) = {2,4} and N(2) = N(4) = {1,3} —
    // two node pairs at jaccard 1.0 that share NO edge; adjacent
    // corners share no neighbor and never pair
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "t")
    val got = Graphs.neighborJaccard(edges, "s", "t", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map((1L, 3L) -> 1.0, (2L, 4L) -> 1.0))
  }

  test("neighborJaccard: the maxDegree valve drops hub-pivoted buckets like stop shingles") {
    // a 5-spoke star: every spoke pair shares only the hub; with the
    // hub's degree above the cap no pair survives — a node everyone
    // neighbors carries no similarity signal
    val star = (1L to 5L).map(i => (0L, i)).toDF("s", "t")
    assert(Graphs.neighborJaccard(star, "s", "t", 0.1, maxDegree = 4).isEmpty)
    val open = Graphs.neighborJaccard(star, "s", "t", 0.1, maxDegree = 5)
      .as[(Long, Long, Double)].collect()
    assert(open.length == 10 && open.forall(_._3 == 1.0)) // C(5,2) spoke pairs
  }

  test("kcore: cascading peel — a pendant chain falls in two rounds, the triangle survives") {
    // triangle {1,2,3} + chain 3-4-5. Round 1: node 5 (deg 1) drops,
    // which LOWERS 4 to deg 1; round 2 drops 4 — the cascade the
    // one-shot degree filter would miss. Core = the triangle, each
    // node at in-core degree 2.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("s", "t")
    val got = Graphs.kcore(edges, "s", "t", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kcore: duplicate and reversed edges canonicalize before degrees count") {
    // 1-2 listed twice and once reversed is ONE edge: both endpoints
    // are degree 1 and the 2-core is empty
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L)).toDF("s", "t")
    assert(Graphs.kcore(edges, "s", "t", k = 2).isEmpty)
    // k above every degree empties the core too
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "t")
    assert(Graphs.kcore(tri, "s", "t", k = 3).isEmpty)
  }

  test("kcore: maxIter too small for the cascade fails loudly, never silently partial") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("s", "t")
    intercept[IllegalArgumentException] {
      Graphs.kcore(edges, "s", "t", k = 2, maxIter = 1).collect()
    }
    intercept[IllegalArgumentException] {
      Graphs.kcore(edges, "s", "t", k = 0)
    }
  }

  test("kcore: a core settling in exactly maxIter peels is returned; one peel short throws") {
    // the cascade needs two productive peels: maxIter = 2 returns the
    // triangle, maxIter = 1 stops with node 4 still below k
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("s", "t")
    val got = Graphs.kcore(edges, "s", "t", k = 2, maxIter = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    intercept[IllegalArgumentException] {
      Graphs.kcore(edges, "s", "t", k = 2, maxIter = 1).collect()
    }
  }

  test("bfsDepth: exact hop rings on a path; multi-seed takes the nearer seed") {
    // path 1-2-3-4-5, seed {1}: depths 0..4
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    val one = Graphs.bfsDepth(path, "s", "t", Seq(1L).toDF("n"), maxDepth = 6)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // seeds {1, 5}: every node takes the NEARER seed's ring
    val two = Graphs.bfsDepth(path, "s", "t", Seq(1L, 5L).toDF("n"), maxDepth = 6)
      .as[(Long, Long)].collect().toMap
    assert(two == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("bfsDepth: maxDepth truncates; unreachable and off-graph seeds are absent") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("s", "t")
    // depth cap 2 from seed 1: node 4 (3 hops) and the {10,11}
    // component are absent; seed 99 is not in the graph — ignored
    val got = Graphs.bfsDepth(g, "s", "t", Seq(1L, 99L).toDF("n"), maxDepth = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    intercept[IllegalArgumentException] {
      Graphs.bfsDepth(g, "s", "t", Seq(1L).toDF("n"), maxDepth = 0)
    }
  }

  test("bfsDepth directed: edges only traverse forward; undirected reverses them") {
    val g = Seq((1L, 2L), (2L, 3L)).toDF("s", "t")
    val fwd = Graphs.bfsDepth(g, "s", "t", Seq(3L).toDF("n"),
      maxDepth = 3, directed = true).as[(Long, Long)].collect().toMap
    assert(fwd == Map(3L -> 0L))
    val und = Graphs.bfsDepth(g, "s", "t", Seq(3L).toDF("n"), maxDepth = 3)
      .as[(Long, Long)].collect().toMap
    assert(und == Map(3L -> 0L, 2L -> 1L, 1L -> 2L))
  }

  test("cooccurrenceCosine: hand-computed cosines; degrees count only retained baskets") {
    // baskets: {1,2}, {1,2}, {1,3}, {3} — the singleton basket drops,
    // so n1=3, n2=2, n3=1 (NOT 2); support(1,2)=2, support(1,3)=1
    val rows = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 3L), (40L, 3L)).toDF("bk", "it")
    val got = Graphs.cooccurrenceCosine(rows, "bk", "it", minSupport = 1L,
      thresholdNum = 1L, thresholdDen = 5L)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    // cos(1,2) = 2/sqrt(3·2) = 0.8165; cos(1,3) = 1/sqrt(3·1) = 0.5774
    assert(got == Map((1L, 2L) -> (2L, 0.8165), (1L, 3L) -> (1L, 0.5774)))
  }

  test("cooccurrenceCosine: the integer cross-multiplied threshold is the keep gate") {
    val rows = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 3L)).toDF("bk", "it")
    // at 7/10: (1,2) keeps (4·100 ≥ 6·49); (1,3) drops (1·100 < 3·49)
    val tight = Graphs.cooccurrenceCosine(rows, "bk", "it", minSupport = 1L,
      thresholdNum = 7L, thresholdDen = 10L)
      .select("item_a", "item_b").as[(Long, Long)].collect().toSet
    assert(tight == Set((1L, 2L)))
    intercept[IllegalArgumentException] {
      Graphs.cooccurrenceCosine(rows, "bk", "it", thresholdNum = 6L,
        thresholdDen = 5L)
    }
  }

  test("labelPropagation: bridged cliques keep distinct communities, hand-replayed") {
    // two triangles joined by one bridge (3–10): sync LPA with the
    // (most frequent, ties→smallest) rule, 4 rounds hand-computed —
    // the bridge must NOT merge them (connectedComponents would)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("src", "dst")
    val got = Graphs.labelPropagation(edges, "src", "dst", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L), s"got $got")
    // one component — the contrast that makes LPA worth having
    val cc = Graphs.connectedComponents(edges, "src", "dst")
      .select("component").distinct().count()
    assert(cc == 1L)
    // self-loops drop; a node with only a self-loop is absent
    val selfy = Graphs.labelPropagation(
      Seq((5L, 5L), (1L, 2L)).toDF("src", "dst"), "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(!selfy.contains(5L) && selfy.keySet == Set(1L, 2L))
  }

  test("modularity: hand-computed exact q_num/q_den on bridged triangles; degenerate splits") {
    // two triangles + one bridge: m = 7; communities {1,2,3} / {10,11,12}
    // each have L_c = 3 internal edges and degree mass D_c = 7
    // (bridge endpoints 3 and 10 carry degree 3) →
    // q_num = 4·7·3 − 7² = 35, q_den = 4·49 = 196; Q = 70/196 ≈ 0.357
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 3L), (11L, 3L), (12L, 3L)).toDF("node", "community")
    val got = Graphs.modularity(edges, "src", "dst", labels)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 3L, 7L, 35L, 196L),
      (3L, 3L, 3L, 7L, 35L, 196L)), s"got $got")
    // everything in ONE community: Q = 0 exactly (4m·m − (2m)² = 0) —
    // and a NEGATIVE contribution when a "community" is two nodes the
    // graph never connects (L_c = 0 → q_num = −D_c²)
    val one = labels.withColumn("community", lit(9L))
    val q1 = Graphs.modularity(edges, "src", "dst", one)
      .select("q_num").as[Long].collect().toSeq
    assert(q1 == Seq(4L * 7 * 7 - 14L * 14), s"got $q1") // == 0
    val cross = Seq((1L, 1L), (10L, 1L)).toDF("node", "community")
    val qx = Graphs.modularity(edges, "src", "dst", cross)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // deg(1) = 2, deg(10) = 3 → D_c = 5, L_c = 0 → q_num = −25
    assert(qx == Set((1L, 2L, 0L, 5L, -25L, 196L)), s"got $qx")
  }

  test("scc: 2-cycle + dangling tail + bridged 3-cycle (hand-checked)") {
    // 1<->2 (2-cycle), tail 2->3->4, bridge 4->5, cycle 5->6->7->5:
    // SCCs {1,2}, {3}, {4}, {5,6,7} with min-member ids 1/3/4/5
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 5L)).toDF("s", "t")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L)
    // both physical paths: the single-task fast path (default — this
    // graph is tiny) and the distributed FB-coloring rounds
    val local = Graphs.scc(edges, "s", "t").as[(Long, Long)].collect().toMap
    assert(local == want, s"local path: $local")
    val dist = Graphs.scc(edges, "s", "t", localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == want, s"distributed path: $dist")
  }

  test("scc: self-loops and duplicate edges stay singletons; a pure DAG is all singletons") {
    // 8's only edge is a self-loop (still a node, still singleton);
    // the 1->2 duplicate collapses; 1->2->3 + 1->3 is acyclic
    val edges = Seq((8L, 8L), (1L, 2L), (1L, 2L), (2L, 3L), (1L, 3L))
      .toDF("s", "t")
    val got = Graphs.scc(edges, "s", "t").as[(Long, Long)].collect().toMap
    assert(got == Map(8L -> 8L, 1L -> 1L, 2L -> 2L, 3L -> 3L), s"got $got")
  }

  test("scc: chained cycles force multiple extraction rounds") {
    // (1<->2) -> (3<->4) -> (5<->6): round 1 colors everything 1 and
    // extracts only {1,2}; {3,4} and {5,6} surface in later rounds —
    // exercises the outer loop, the re-trim, and the removal joins
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L),
      (4L, 5L), (5L, 6L), (6L, 5L)).toDF("s", "t")
    val got = Graphs.scc(edges, "s", "t").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 5L), s"got $got")
  }

  test("condense: member counts and longest-path tiers on the scc fixture") {
    // SCCs {1,2} -> {3} -> {4} -> {5,6,7}: a 4-node condensation chain
    // with tiers 0..3 and member counts 2/1/1/3
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 5L)).toDF("s", "t")
    val want = Set((1L, 2L, 0L), (3L, 1L, 1L), (4L, 1L, 2L), (5L, 3L, 3L))
    val local = Graphs.condense(edges, "s", "t")
      .as[(Long, Long, Long)].collect().toSet
    assert(local == want, s"local path: $local")
    val dist = Graphs.condense(edges, "s", "t", localThreshold = 0L)
      .as[(Long, Long, Long)].collect().toSet
    assert(dist == want, s"distributed path: $dist")
  }

  test("condense: LONGEST path wins over shortest; isolated components sit at tier 0") {
    // diamond with a long arm: 1->2->3->9 and 1->9 — 9's tier is 3
    // (via the long arm), not 1 (the short edge); 50<->51 is a
    // detached 2-cycle at tier 0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 9L), (1L, 9L),
      (50L, 51L), (51L, 50L)).toDF("s", "t")
    val got = Graphs.condense(edges, "s", "t")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 2L),
      (9L, 1L, 3L), (50L, 2L, 0L)), s"got $got")
  }

  test("scc: maxOuter exhaustion fails loudly instead of returning a partial census") {
    // a chain of 12 two-cycles: one round extracts only the class-root
    // SCCs (all 12 at once would need the 12 hashed pivot priorities to
    // land strictly decreasing along the chain — they don't), so
    // maxOuter = 1 must trip the loud require rather than return a
    // partial census
    val edges = (0 until 12).flatMap { i =>
      val a = 2L * i + 1; val b = 2L * i + 2
      Seq((a, b), (b, a)) ++ (if (i < 11) Seq((b, 2L * i + 3)) else Nil)
    }.toDF("s", "t")
    val e = intercept[IllegalArgumentException] {
      // localThreshold = 0 forces the distributed FB-coloring path —
      // the small-graph fast path has no outer rounds to exhaust
      Graphs.scc(edges, "s", "t", maxOuter = 1, localThreshold = 0L).collect()
    }
    assert(e.getMessage.contains("maxOuter"))
  }

  test("two-step loops name the maxIter the caller passed when they do not converge") {
    // a 64-node directed cycle: forward coloring needs more than the
    // four steps maxIter = 3 rounds up to
    val cycle = (0L until 64L).map(i => (i, (i + 1) % 64)).toDF("s", "t")
    val e1 = intercept[IllegalArgumentException] {
      Graphs.scc(cycle, "s", "t", maxIter = 3, localThreshold = 0L).collect()
    }
    assert(e1.getMessage.contains("forward-color") &&
      e1.getMessage.contains("maxIter = 3"), e1.getMessage)
    // a 10-node path condenses to itself: trim settles the scc, and the
    // level relaxation needs nine steps
    val path = (1L until 10L).map(i => (i, i + 1)).toDF("s", "t")
    val e2 = intercept[IllegalArgumentException] {
      Graphs.condense(path, "s", "t", maxIter = 3, localThreshold = 0L).collect()
    }
    assert(e2.getMessage.contains("condense") &&
      e2.getMessage.contains("maxIter = 3"), e2.getMessage)
  }

  test("kcore, bfsDepth, scc and condense start no job from Graphs itself") {
    // every job these loops start runs through Pins (a pin and its
    // observed witness) or from the caller's action on the returned
    // frame: a job whose short call site names Graphs.scala is a
    // standalone probe. Adaptive execution submits a query's jobs from
    // its own pool threads, so such a job takes the short call site of
    // the SQL execution it belongs to
    val sc = spark.sparkContext
    val jobSites = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[Long])]()
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobSites.add((js.stageInfos.maxBy(_.stageId).name,
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)))
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execSites.put(x.executionId, x.description)
          case _ =>
        }
    }
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    val dir = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 5L)).toDF("s", "t")
    sc.addSparkListener(listener)
    try {
      Graphs.kcore(und, "s", "t", k = 2).collect()
      Graphs.bfsDepth(und, "s", "t", Seq(1L).toDF("n")).collect()
      for (threshold <- Seq(100000L, 0L)) {
        Graphs.scc(dir, "s", "t", localThreshold = threshold).collect()
        Graphs.condense(dir, "s", "t", localThreshold = threshold).collect()
      }
      org.apache.spark.graft.ListenerBridge.waitUntilListenersProcessed(sc)
    } finally sc.removeSparkListener(listener)
    val sites = scala.jdk.CollectionConverters.CollectionHasAsScala(jobSites).asScala.toSeq
      .map { case (own, exec) =>
        if (own.contains(".scala:")) own
        else exec.flatMap(id => Option(execSites.get(id))).getOrElse(own)
      }
    assert(sites.exists(_.contains("Pins.scala")), sites)
    val probes = sites.filter(_.contains("Graphs.scala"))
    assert(probes.isEmpty, s"jobs started from Graphs.scala: ${probes.mkString(", ")}")
  }

  test("scc: adversarial shapes (r14 verdict) — increasing-id SCC chain and a long path " +
       "converge within the default caps on the DISTRIBUTED path, row-equal to Kosaraju") {
    // 1. chain of 24 two-cycles with INCREASING min ids — the exact
    //    shape that took one outer round per SCC under min-id pivots
    //    (would have tripped the old maxOuter = 8); hashed pivots make
    //    outer rounds O(log n)
    val chain = (0 until 24).flatMap { i =>
      val a = 2L * i + 1; val b = 2L * i + 2
      Seq((a, b), (b, a)) ++ (if (i < 23) Seq((b, 2L * i + 3)) else Nil)
    }.toDF("s", "t")
    val gotC = Graphs.scc(chain, "s", "t", localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    val wantC = Graphs.scc(chain, "s", "t").as[(Long, Long)].collect().toMap
    assert(gotC == wantC && gotC(47L) == 47L && gotC(48L) == 47L, s"chain: $gotC")
    // 2. a 200-edge pure path — the old TO-FIXPOINT trim needed
    //    O(diameter) peels (would have tripped maxIter = 60); bounded
    //    trim + coloring handles it, every node a singleton
    val path = (1L to 200L).map(i => (i, i + 1)).toDF("s", "t")
    val gotP = Graphs.scc(path, "s", "t", localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(gotP.size == 201 && gotP.forall { case (n, c) => n == c }, "path")
  }
}
