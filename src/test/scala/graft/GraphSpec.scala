package graft

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: a symmetric cycle is a fixpoint at exactly 1.0 per node") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iterations = 7)
      .as[(Long, Long)].collect().toMap
    // base + 85% of a full unit flowing along the cycle = the unit again
    assert(pr === Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("pageRank: hub of a star accumulates rank; leaves hold the base") {
    // 4 leaves all link to the hub; hub links back to leaf 1
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val pr = Graph.pageRank(edges, iterations = 10)
      .as[(Long, Long)].collect().toMap
    // hub and the leaf it feeds exchange the accumulated mass each
    // round (hub's outdegree is 1), so BOTH sit far above plain leaves
    assert(pr(0L) > 2 * 1000000L, "hub accumulated rank")
    assert(pr(1L) > 2 * 1000000L, "hub-fed leaf accumulated rank")
    // leaves 2..4 receive nothing: exactly the base share
    assert(pr(2L) === 150000L && pr(3L) === 150000L && pr(4L) === 150000L)
  }

  test("pageRank: total mass never exceeds N units and iterations=0 is the init") {
    val edges = (0L until 20L).map(i => (i, (i * 3 + 1) % 20)).toDF("src", "dst")
    val init = Graph.pageRank(edges, iterations = 0)
      .as[(Long, Long)].collect()
    assert(init.forall(_._2 == 1000000L))
    val pr = Graph.pageRank(edges, iterations = 6).as[(Long, Long)].collect()
    val total = pr.map(_._2).sum
    assert(total <= 20L * 1000000L, s"mass grew: $total")
    assert(total >= 20L * 1000000L - 20L * 6L * 100L, s"floor loss too big: $total")
  }

  test("degreeStats: multi-edges count in degree but once in neighbors") {
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L)).toDF("src", "dst")
    val d = Graph.degreeStats(edges)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(d(1L) === ((3L, 2L, 1L, 1L)), "node 1: out 3 edges / 2 nbrs, in 1/1")
    assert(d(2L) === ((1L, 1L, 2L, 1L)), "node 2: out 1/1, in 2 edges / 1 nbr")
    assert(d(3L) === ((0L, 0L, 1L, 1L)), "pure sink gets zeros on the out side")
  }

  test("labelPropagation: two cliques joined by one edge converge to two communities") {
    // K4 on {0..3} and K4 on {10..13}, bridged 3-10.
    def clique(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (3L, 10L)).toDF("src", "dst")
    val labels = Graph.labelPropagation(edges, iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(Seq(0L, 1L, 2L, 3L).map(labels).distinct.size === 1,
      "left clique agrees on one label")
    assert(Seq(10L, 11L, 12L, 13L).map(labels).distinct.size === 1,
      "right clique agrees on one label")
    assert(labels(0L) !== labels(11L), "the two cliques keep distinct labels")
  }

  test("labelPropagation: isolated self-loop node keeps its own label; iterations=0 is init") {
    val edges = Seq((1L, 2L), (7L, 7L)).toDF("src", "dst")
    val init = Graph.labelPropagation(edges, iterations = 0)
      .as[(Long, Long)].collect().toMap
    assert(init === Map(1L -> 1L, 2L -> 2L, 7L -> 7L))
    val l = Graph.labelPropagation(edges, iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(l(7L) === 7L, "self-loop-only node never changes label")
    // 1-2 ping-pong under synchronous update with min tie-break: each
    // round both nodes adopt the other's CURRENT label, so after an odd
    // round they have swapped, after an even round they are back.
    assert(l(1L) === 2L && l(2L) === 1L)
  }

  test("commonNeighbors: square graph scores opposite corners via two shared neighbors") {
    // Cycle 0-1-2-3-0: opposite corners (0,2) and (1,3) share exactly
    // their two mutual neighbors; adjacent corners share none.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val rows = Graph.commonNeighbors(edges, degCap = 64)
      .select("a", "b", "common", "union_sz")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(rows === Map((0L, 2L) -> ((2L, 2L)), (1L, 3L) -> ((2L, 2L))))
  }

  test("commonNeighbors: degCap drops hub middles but keeps true degrees") {
    // Hub 100 connects 0..4; 0-1 also share low-degree middle 200.
    val hub = (0L to 4L).map(i => (100L, i))
    val edges = (hub ++ Seq((200L, 0L), (200L, 1L))).toDF("src", "dst")
    val capped = Graph.commonNeighbors(edges, degCap = 4)
      .select("a", "b", "common", "union_sz")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // Hub degree 5 > cap: its wedges vanish, so (0,1) keeps only the
    // 200-middle wedge — but union_sz still uses the UNCAPPED degrees
    // (2 and 2). Low-degree middles 0 and 1 still wedge (100, 200).
    assert(capped.keySet === Set((0L, 1L), (100L, 200L)))
    assert(capped((0L, 1L)) === ((1L, 3L)), "common via 200 only; union 2+2-1")
    assert(capped((100L, 200L)) === ((2L, 5L)), "wedged via middles 0 and 1")
  }

  test("bfsDistance: min over sources, round cap, directedness, unreached absence") {
    // Directed chain 1->2->3->4->5, source 1 and source 4; 9 is isolated;
    // 6->1 points INTO the component (6 unreachable — edges are directed).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 1L))
      .toDF("src", "dst")
    val sources = Seq(1L, 4L).toDF("id")
    val got = Graph.bfsDistance(edges, sources, rounds = 8)
      .as[(Long, Long)].collect().toMap
    // node 5: dist 1 via source 4 (not 4 via source 1); node 4: source
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 0L, 5L -> 1L))
    // round cap: 2 rounds can't reach node 4 from source 1 alone
    val capped = Graph.bfsDistance(edges, Seq(1L).toDF("id"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // lineage-cut paths agree
    val cut = Graph.bfsDistance(edges, sources, rounds = 8, cutEvery = 2)
      .as[(Long, Long)].collect().toMap
    assert(cut === got)
  }

  test("bfsDistance: dir-backed lineage cuts equal the default result") {
    // 12 rounds over a 12-edge chain with cutEvery = 3: the edge cut plus
    // three state cuts each land in their own subdir
    val edges = (1L to 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val sources = Seq(1L).toDF("id")
    val default = Graph.bfsDistance(edges, sources, rounds = 12)
      .as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-bfs-ckpt").toString
    val reliable = Graph.bfsDistance(edges, sources, rounds = 12, cutEvery = 3,
      checkpointDir = Some(dir)).as[(Long, Long)].collect().toMap
    assert(default === (1L to 13L).map(i => i -> (i - 1)).toMap)
    assert(reliable === default)
    assert(new java.io.File(dir).list().sorted.toSeq ===
      (0 to 3).map(n => s"bfs_cut_$n"))
  }

  test("kCore: peel cascade, induced degrees, undirected view, empty core") {
    // 4-clique {1,2,3,4} + tail 4-5-6: the 3-core is the clique alone,
    // and the peel must CASCADE (removing 6 drops 5's degree to 1,
    // removing 5 drops 4's to 3 — still in; a one-round peel would
    // keep 5). Edges given directed one way; the operator symmetrizes.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val core3 = Graph.kCore(edges, k = 3, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(core3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"3-core must be the clique with induced degree 3, got $core3")
    // one round is NOT enough: 6 peels (deg 1) but 5 survives round 1
    // (deg 2 ≥ 2... with k=3: 5 has deg 2 < 3 and peels round 1; use
    // k=2 to show the cascade instead: round 1 peels 6 only).
    val oneRound = Graph.kCore(edges, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(oneRound.contains(5L) && !oneRound.contains(6L),
      "after one k=2 round only the leaf peels; 5 still survives")
    val conv = Graph.kCore(edges, k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(conv.keySet === Set(1L, 2L, 3L, 4L),
      "the converged 2-core drops the whole tail")
    // k above the max degree: empty result, not an error
    assert(Graph.kCore(edges, k = 10, rounds = 3).count() === 0L)
  }

  test("kTruss: clique support, triangle-free peel, cascade, 0-support report") {
    // 4-clique + tail 4-5-6: every clique edge sits in exactly 2
    // triangles; the tail edges sit in none and peel round 1.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val t4 = Graph.kTruss(edges, k = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(t4 === Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L), (2L, 3L, 2L),
      (2L, 4L, 2L), (3L, 4L, 2L)),
      s"the 4-truss is the clique with support 2 per edge, got $t4")

    // Two triangles sharing edge (1,2): that edge has support 2, the
    // wings support 1. k=4 round 1 peels the wings; the shared edge
    // SURVIVES round 1 and must report support 0 (the left-join row)
    // after one round — then CASCADE: round 2 peels it too.
    val shared = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
      .toDF("src", "dst")
    val r1 = Graph.kTruss(shared, k = 4, rounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1 === Set((1L, 2L, 0L)),
      s"one round keeps the shared edge, reported at its NEW support 0, got $r1")
    assert(Graph.kTruss(shared, k = 4, rounds = 2).count() === 0L,
      "round 2 cascades the now-unsupported shared edge away")

    // k=3 (support >= 1): a lone triangle survives, a pendant peels.
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val t3 = Graph.kTruss(tri, k = 3, rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(t3 === Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("personalizedPageRank: mass flows FROM sources only; non-source restart is 0") {
    // chain 1->2->3 plus isolated pair 4->5 (no path from the source 1)
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.personalizedPageRank(edges, Seq(1L).toDF("id"),
        iterations = 5)
      .as[(Long, Long)].collect().toMap
    // replay the integer recurrence by hand: base=150000 on source only
    var pr = Map(1L -> 1000000L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L)
    val out = Map(1L -> Seq(2L), 2L -> Seq(3L), 4L -> Seq(5L))
    (1 to 5).foreach { _ =>
      val m = out.toSeq.flatMap { case (u, vs) =>
        vs.map(v => v -> pr(u) / vs.size) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      pr = pr.keys.map(v => v ->
        ((if (v == 1L) 150000L else 0L) + 85L * m.getOrElse(v, 0L) / 100L)).toMap
    }
    assert(got === pr, s"got $got expected $pr")
    // nothing reaches the disconnected pair
    assert(got(4L) === 0L && got(5L) === 0L)
    // mass decays along the chain but reaches node 3
    assert(got(1L) > got(2L) && got(2L) > got(3L) && got(3L) > 0L)
    // an ISOLATED seed (not an edge endpoint) still carries its
    // restart mass — it must appear with ppr = base, not vanish
    val iso = Graph.personalizedPageRank(edges, Seq(1L, 99L).toDF("id"),
        iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(iso(99L) === 150000L,
      s"isolated seed must keep its restart mass, got ${iso.get(99L)}")
  }

  test("hyperBall: ball totals are monotone and track exact ball sizes on a path") {
    // directed path 0→1→2→…→9: |B(v,t)| = min(t, 9−v) + 1 exactly
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val rows = Graph.hyperBall(edges, rounds = 3)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(rows.forall(_._2 == 10L), "all 10 nodes present every round")
    // t=0: every ball is {self}; the m=256 HLL of one element estimates
    // 256·ln(256/255) ≈ 1.0019 — within 1% of 1 per node
    val t0 = rows(0)._3
    assert(math.abs(t0 - 10L * 1000000L) < 10L * 1000000L / 100,
      s"t=0 total should be ~10e6 micro-units, got $t0")
    // totals are monotone nondecreasing in t (register max only grows)
    assert(rows.sliding(2).forall(p => p(0)._3 <= p(1)._3), "monotone in t")
    // t=3 exact N(3) = Σ min(3, 9−v)+1 = 10+9+8+7·... = Σ_v (min(3,9-v)+1)
    val exact3 = (0L until 10L).map(v => math.min(3L, 9L - v) + 1L).sum
    val est3 = rows(3)._3.toDouble / 1e6
    assert(math.abs(est3 - exact3) / exact3 < 0.15,
      s"t=3 estimate $est3 should be within 15% of exact $exact3 (m=256)")
  }

  test("hyperBall: state is invariant to input partitioning") {
    val edges = (0L until 40L).map(i => (i, (i * 7 + 3) % 40)).toDF("src", "dst")
    val a = Graph.hyperBall(edges, rounds = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val b = Graph.hyperBall(edges.repartition(7).sortWithinPartitions("dst"),
        rounds = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a === b, "register-max merge must be partition-order independent")
  }
}
