package graft.analytics

import scala.math.BigDecimal.RoundingMode

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.Join

class GraphSpec extends SparkSpec {

  private def edges(rows: (String, String, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("src", "dst", "w")
  }

  test("pagerank: symmetric two-node cycle is the stationary fixed point") {
    // A<->B with equal weight: p=(0.5, 0.5) satisfies
    // p' = 0.15/2 + 0.85*0.5 = 0.5 exactly, every iteration
    val out = Graph.pageRank(edges(("A", "B", 1L), ("B", "A", 1L)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("A") === 0.5 && out("B") === 0.5)
  }

  test("pagerank: weighted out-edges split mass by ratio, total conserved") {
    // B and C only link back to A; A splits 3:1 between B and C.
    // No dangling nodes -> total mass stays 1 (up to the 12dp rounding).
    val out = Graph.pageRank(edges(
      ("A", "B", 3L), ("A", "C", 1L), ("B", "A", 1L), ("C", "A", 1L)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out.values.sum - 1.0) < 1e-9)
    assert(out("B") > out("C"), "the 3x-weighted edge must rank B above C")
    assert(out("A") > out("B"), "A receives everything and must rank first")
  }

  test("pagerank: dangling node leaks mass, sink still outranks the source") {
    val out = Graph.pageRank(edges(("A", "B", 1L)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("B") > out("A"))
    assert(out.values.sum < 1.0, "dangling B leaks mass by construction")
    // A gets teleport mass only: 0.15/2
    assert(math.abs(out("A") - 0.075) < 1e-9)
  }

  test("pagerank on the sf0.001 transition graph: one rank per event type") {
    val t = graft.Tables(spark, sf001)
    val e = Graph.transitionEdges(t.events, "user_id", "ts", "event_type",
      "event_id")
    val ranks = Graph.pageRank(e).collect()
    val nTypes = t.events.select("event_type").distinct().count()
    assert(ranks.length.toLong === nTypes)
    assert(ranks.forall(_.getDouble(1) > 0.0))
    // every type both sends and receives on this feed: mass conserved
    assert(math.abs(ranks.map(_.getDouble(1)).sum - 1.0) < 1e-6)
  }

  // undirected helpers for the s1<s2 edge-list operators
  private def uedges(rows: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    rows.map { case (a, b) => (math.min(a, b), math.max(a, b), 1L) }
      .toDF("s1", "s2", "w")
  }

  test("triangle count: K4 has four triangles, three per corner") {
    val k4 = uedges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
    val out = Graph.triangleCounts(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 4 triangles x 3 corners = 12 credits
    assert(out.values.sum === 12L)
  }

  test("triangle count: a path has none, adding the chord closes one") {
    assert(Graph.triangleCounts(uedges((1, 2), (2, 3))).count() === 0L)
    val closed = Graph.triangleCounts(uedges((1, 2), (2, 3), (1, 3)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(closed === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("k-core: 2-core peels the pendant chain, keeps the cycle") {
    // triangle 1-2-3 with a pendant chain 3-4-5: 2-core = the triangle,
    // and peeling needs TWO rounds (5 goes first, then 4)
    val g = uedges((1, 2), (2, 3), (1, 3), (3, 4), (4, 5))
    val out = Graph.kCore(g, k = 2, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("k-core: a too-small round budget under-peels (documented bound)") {
    val g = uedges((1, 2), (2, 3), (1, 3), (3, 4), (4, 5))
    // one round drops 5 and its edge; 4 then falls below the floor in the
    // final degree filter, but its edge 3-4 has NOT been peeled yet, so
    // 3 still reports degree 3 — the visible half-converged state the
    // round budget documents (the 4-round run reports 2)
    val one = Graph.kCore(g, k = 2, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one.keySet === Set(1L, 2L, 3L))
    assert(one(3L) === 3L)
  }

  test("link prediction: wedge endpoints score, adjacent pairs excluded") {
    // star 1-2, 1-3, 1-4 plus edge 2-3: candidates are the non-adjacent
    // distance-2 pairs (2,4) and (3,4); (2,3) is an edge -> excluded
    val out = Graph.linkPrediction(uedges((1, 2), (1, 3), (1, 4), (2, 3)))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet === Set((2L, 4L), (3L, 4L)))
    // deg(2)=2, deg(4)=1, common=1 -> jaccard 1/(2+1-1)=0.5
    assert(out((2L, 4L)) === ((1L, 0.5)))
    assert(out((3L, 4L)) === ((1L, 0.5)))
  }

  test("label propagation: two disjoint triangles converge to min labels") {
    val g = uedges((1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9))
    val out = Graph.labelPropagation(g, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // in a triangle every node sees the other two; min-tie-break drags
    // everything to the smallest id of its component
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("co-activity edges: cap drops hot buckets, floor drops weak pairs") {
    val s = spark
    import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(h: Int) = new java.sql.Timestamp(base.getTime + h * 3600L * 1000)
    // users 1,2 share 3 distinct (type,hour) buckets; 1,3 share only 2;
    // bucket ("view", h=9) has 3 users -> dropped by maxBucketUsers=2
    val ev = Seq(
      (1L, "view", at(0)), (2L, "view", at(0)),
      (1L, "view", at(1)), (2L, "view", at(1)),
      (1L, "click", at(2)), (2L, "click", at(2)),
      (1L, "view", at(3)), (3L, "view", at(3)),
      (1L, "click", at(4)), (3L, "click", at(4)),
      (1L, "view", at(9)), (2L, "view", at(9)), (3L, "view", at(9)),
    ).toDF("user_id", "event_type", "ts")
    val out = Graph.coActivityEdges(ev, minShared = 3, maxBucketUsers = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L, 3L)))
  }

  test("BFS layers: hop distances on a path + branch, horizon respected") {
    val s = spark
    import s.implicits._
    // 1-2-3-4-5 path, 2-6 branch, 8-9 disconnected
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (8L, 9L)).toDF("s1", "s2")
    val seeds = Seq(1L).toDF("node")
    val out = Graph.bfsLayers(edges, seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // node 5 is 4 hops out -> beyond the horizon; 8/9 unreachable
    assert(out === Map(1L -> 0, 2L -> 1, 3L -> 2, 6L -> 2, 4L -> 3))
  }

  test("bounded SSSP: a strong 2-hop path beats a weak direct edge") {
    val s = spark
    import s.implicits._
    // costs are 1/w: direct 1-2 edge costs 1.0, but 1-3-2 over two w=4
    // edges costs 0.25 + 0.25 — the weighted answer differs from BFS;
    // node 4 hangs off node 2; node 9 is out of reach
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 4L), (3L, 2L, 4L),
      (2L, 4L, 2L), (8L, 9L, 1L)).toDF("s1", "s2", "w")
    val seeds = Seq(1L).toDF("node")
    val out = Graph.ssspBounded(edges, seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === Map(1L -> 0.0, 3L -> 0.25, 2L -> 0.5, 4L -> 1.0))
  }

  /** A seeded random graph over nodes 1..40, a path 1-41-42-…-50 that
    * puts node 40 + h exactly h hops from seed 1, a disconnected path
    * 200..204, and seeds 1, 2 and the edgeless node 999. */
  private val randomGraph: (Seq[(Long, Long, Long)], Seq[Long]) = {
    val rnd = new scala.util.Random(17)
    val random = Seq.fill(55)((1L + rnd.nextInt(40), 1L + rnd.nextInt(40)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val tail = (1L +: (41L until 50L)).zip(41L to 50L)
    val island = (200L until 204L).map(a => (a, a + 1))
    val edges = (random ++ tail ++ island).distinct.map { case (a, b) => (a, b, 1L + rnd.nextInt(5)) }
    (edges, Seq(1L, 2L, 999L))
  }

  private def round6(x: Double): Double = BigDecimal(x).setScale(6, RoundingMode.HALF_UP).toDouble

  /** Driver-side reference: `hops` relax rounds of `(node, d)` state, each
    * keeping every node and offering `step(d, w)` along every edge. */
  private def relaxReference[D](edges: Seq[(Long, Long, Long)], seeds: Seq[Long], zero: D,
                                hops: Int)(step: (D, Long) => D)(implicit o: Ordering[D]): Map[Long, D] = {
    val adj = edges.flatMap { case (a, b, w) => Seq(a -> (b, w), b -> (a, w)) }.groupMap(_._1)(_._2)
    (1 to hops).foldLeft(seeds.map(_ -> zero).toMap) { (state, _) =>
      val offers = for ((n, d) <- state.toSeq; (m, w) <- adj.getOrElse(n, Nil)) yield m -> step(d, w)
      (state.toSeq ++ offers).groupMapReduce(_._1)(_._2)(o.min)
    }
  }

  test("BFS and SSSP match a driver-side reference on both plans (3 and 6 hops)") {
    val s = spark
    import s.implicits._
    val (edgeRows, seedIds) = randomGraph
    val edges = edgeRows.toDF("s1", "s2", "w")
    val seeds = seedIds.toDF("node")
    for (hops <- Seq(3, 6)) { // one lazy fold, then a fold cut after hop 5
      val bfs = Graph.bfsLayers(edges.select("s1", "s2"), seeds, hops)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(bfs === relaxReference(edgeRows, seedIds, 0, hops)((d, _) => d + 1), s"BFS, $hops hops")
      val sssp = Graph.ssspBounded(edges, seeds, hops)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(sssp === relaxReference(edgeRows, seedIds, 0.0, hops)(
        (d, w) => round6(d + round6(1.0 / w)))(Ordering.Double.TotalOrdering), s"SSSP, $hops hops")
      assert(bfs(999L) === 0 && sssp(999L) === 0.0, "an edgeless seed keeps distance 0")
      assert(bfs.keySet === sssp.keySet && bfs.values.max === hops)
      assert(!bfs.keySet.exists(n => n >= 200L && n <= 204L), "the island stays unreached")
    }
  }

  test("each operator runs a fixed action sequence: input count, one count per tested round, snapshot") {
    val s = spark
    import s.implicits._
    // the input is one checkpoint, counted from its blocks (no SQL action)
    val (cnt, chk) = ("count", "localCheckpoint")
    // pageRank counts its node frame first
    assert(actionNames(Graph.pageRank(edges(
      ("A", "B", 3L), ("A", "C", 1L), ("B", "A", 1L), ("C", "A", 1L)))) === Seq(cnt, chk, chk))
    // the wedge-join operators read a persisted input: only the snapshot is an action
    assert(actionNames(Graph.triangleCounts(uedges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)))) ===
      Seq(chk))
    val peel = uedges((1, 2), (2, 3), (1, 3), (3, 4), (4, 5))
    // peels 5, then 4, then a round that peels nothing ends the loop early
    assert(actionNames(Graph.kCore(peel, k = 2, rounds = 4)) === Seq(chk, cnt, cnt, cnt, chk))
    assert(actionNames(Graph.kCore(peel, k = 2, rounds = 1)) === Seq(chk, cnt, chk))
    assert(actionNames(Graph.linkPrediction(uedges((1, 2), (1, 3), (1, 4), (2, 3)))) === Seq(chk))
    assert(actionNames(Graph.labelPropagation(
      uedges((1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9)), rounds = 3)) === Seq(chk, chk))
    val path = Seq((1L, 2L, 1L), (2L, 3L, 4L), (3L, 4L, 4L), (4L, 5L, 2L), (2L, 6L, 1L),
      (8L, 9L, 1L)).toDF("s1", "s2", "w")
    val seeds = Seq(1L).toDF("node")
    // no hop ends in an action; a 6-hop fold is cut once, after hop 5
    for ((hops, expected) <- Seq(3 -> Seq(chk, chk), 6 -> Seq(chk, chk, chk))) {
      assert(actionNames(Graph.bfsLayers(path.select("s1", "s2"), seeds, hops)) === expected, s"BFS, $hops hops")
      assert(actionNames(Graph.ssspBounded(path, seeds, hops)) === expected, s"SSSP, $hops hops")
    }
  }

  test("one-shot BFS plans one join per hop: each hop reads the previous state once") {
    val s = spark
    import s.implicits._
    val edges = randomGraph._1.map { case (a, b, _) => (a, b) }.toDF("s1", "s2")
    val seeds = randomGraph._2.toDF("node")
    for (hops <- 1 to 5) {
      val (_, actions) = withActions(Graph.bfsLayers(edges, seeds, hops))
      // the adjacency checkpoint, then the traversal's snapshot
      val traversal = actions.collect { case ("localCheckpoint", qe) => qe }
      assert(traversal.size === 2, actions.map(_._1))
      val joins = traversal.last.optimizedPlan.collect { case j: Join => j }
      assert(joins.size === hops, s"$hops hops")
    }
  }
}
