package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Ops.{Entry, Q}
import graft.Tables
import graft.operators.IterState

/** Graph analytics over plain DataFrames — the iterative-computation
  * family (connected components lives with the dedup operators,
  * [[graft.operators.Dedup]]). No graph library: ranks and edges are keyed
  * frames, one hash-partitioned join + aggregate per power iteration — the
  * shape GraphX's Pregel reduces to on Spark anyway, minus the RDD detour.
  * The reference has no graph surface; this is beyond-parity, motivated by
  * the curation use case (ranking sources/domains by link mass before
  * sampling a web corpus).
  */
object Graph {

  /** Weighted damped PageRank, a fixed `iters` power iterations over an
    * edge list `(src, dst, w)`:
    *
    *   p_{k+1}(v) = teleport/N + damping · Σ_{u→v} p_k(u) · w(u,v)/out(u)
    *
    * Dangling nodes (no out-edges) leak their mass — the simplified
    * variant, stated here because the oracle mirrors it; the transition
    * graph graded below has none.
    *
    * Determinism discipline (the house rule for cross-engine float sums):
    * each edge contribution is scalar double arithmetic (bit-identical in
    * any IEEE engine), rounded to 12 dp, summed as DECIMAL(32,12) —
    * order-independent — and the new rank re-rounds to 12 dp, so five
    * chained iterations stay bit-equal between Spark and the oracle.
    *
    * Scale shape: ranks and edges are hash-partitioned by node key; each
    * iteration is one co-keyed join + map-side-combining aggregate + one
    * left join back onto the node frame (absent keys = no in-edges →
    * teleport mass only). The edge-ratio frame is the checkpointed input
    * of the [[IterState.fixpoint]] rounds; N is one count over the node
    * frame. */
  def pageRank(edges: DataFrame, damping: Double = 0.85,
               teleport: Double = 0.15, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val n = nodes.count().toDouble
    val outW = edges.groupBy("src").agg(sum(col("w")).as("__ow"))
    val er = edges.join(outW, "src")
      .select(col("src"), col("dst"),
        (col("w").cast(DoubleType) / col("__ow").cast(DoubleType)).as("ratio"))
    val p0 = nodes.select(col("node"), (lit(1.0) / lit(n)).as("p"))
    IterState.fixpoint(er, iters)((_, _) => p0) { (ratios, rank) =>
      val contrib = ratios.join(rank, ratios("src") === rank("node"))
        .select(ratios("dst"),
          round(col("p") * col("ratio"), 12).cast(DecimalType(32, 12)).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(nodes("node"),
          round(lit(teleport) / lit(n) +
            lit(damping) * coalesce(col("s").cast(DoubleType), lit(0.0)), 12)
            .as("p"))
    }(identity)
  }

  /** The user-timeline transition graph (`b5_transition_matrix`'s edge
    * builder, kept as raw counts): consecutive event pairs per user — one
    * user-keyed window pass, then a keyed count aggregate. */
  def transitionEdges(events: DataFrame, userCol: String, tsCol: String,
                      typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    events.select(col(typeCol).as("src"),
        lead(col(typeCol), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** User co-activity graph: an undirected edge `(s1 < s2, w)` between
    * every pair of users sharing at least `minShared` distinct
    * (event_type, hour) activity buckets. The same inverted-index shape as
    * the shingle dedup join ([[graft.operators.Dedup.jaccardPairs]]): a
    * bucket with B users emits B² pairs, so `maxBucketUsers` drops
    * hot buckets outright before pairing — a bucket half the user base
    * visits carries no co-activity signal, exactly as an every-doc shingle
    * carries no dedup signal. With the cap, pair generation is bounded by
    * cap² per bucket regardless of corpus size; the pair count aggregate
    * is the only data-sized shuffle. */
  def coActivityEdges(events: DataFrame, minShared: Int = 3,
                      maxBucketUsers: Int = 64): DataFrame = {
    // Width-pinned exchanges (r15, guide §2.5): the distinct and the
    // window exchange KB-sized bucket frames, so AQE coalesces their read
    // sides to ONE task — but the work ABOVE them (the per-(et,h) window
    // fan and especially the ≤cap² pair generation feeding the count
    // aggregate's map side) is invisible to the advisory byte sizing, and
    // ran single-threaded on a 32-core session (r15 JobAudit, now the
    // `Bench` probe: 0.3–1.2 s single-task stages in every g-entry). The pinned repartitions
    // SATISFY the distinct's and the window's required clustering, so the
    // Exchange count is unchanged — only the width stops being
    // byte-coalesced. Keys are content-derived (retry-deterministic).
    val width = events.sparkSession.sparkContext.defaultParallelism
    val buckets = events.select(col("user_id").as("u"),
        col("event_type").as("et"), date_trunc("hour", col("ts")).as("h"))
      .repartition(width, col("et"), col("h"), col("u"))
      .distinct()
    // Bucket-size gate as a window over the (et, h)-partitioned frame, NOT
    // a separate count aggregate joined back: the aggregate+join form makes
    // `buckets` a divergent-consumer intermediate whose data-sized distinct
    // re-runs per consumer (the b12/KL/tfidf pattern, PERF.md r10); the
    // window rides the same (et, h) Exchange the pair join needs anyway.
    val b = buckets
      .repartition(width, col("et"), col("h"))
      .withColumn("__bu", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("et", "h")))
      .filter(col("__bu") <= maxBucketUsers)
    val a1 = b.select(col("et"), col("h"), col("u").as("s1"))
    val a2 = b.select(col("et"), col("h"), col("u").as("s2"))
    a1.join(a2, Seq("et", "h")).filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minShared)
  }

  /** Per-node triangle participation over an undirected `(s1 < s2)` edge
    * list: the classic ordered-wedge join — wedges `(a<b<c)` keyed on the
    * middle node, closed against the edge list itself — so each triangle
    * is enumerated exactly once and every join is equi-keyed
    * (no enumeration of non-edges, no cartesian anywhere). Each closed
    * triangle credits all three corners; nodes in no triangle are absent.
    *
    * Scale shape: wedge generation is a self-join keyed on the shared
    * endpoint; closure is an equi-join on the (a, c) pair key. Cost is
    * Σ deg(v)² wedge rows — the standard distributed triangle-count bound;
    * the [[coActivityEdges]] bucket cap keeps degrees bounded upstream. */
  def triangleCounts(edges: DataFrame): DataFrame =
    // the session width, not [[IterState.withStateShuffle]] (r15): the
    // wedge stream (Σ_b deg² rows) is DATA-sized, and a paired A/B of the
    // derived width measured 3.15 → 4.73 s (OPTIMIZATION_r15.md)
    IterState.snapshotCached(edges.select("s1", "s2")) { e =>
      val wedges = e.select(col("s1").as("a"), col("s2").as("b"))
        .join(e.select(col("s1").as("b"), col("s2").as("c")), "b")
      val tris = wedges.join(e.select(col("s1").as("a"), col("s2").as("c")),
        Seq("a", "c"))
      tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        .orderBy("node")
    }

  /** Bounded k-core peel: `rounds` synchronous rounds of dropping every
    * node with degree < k, recomputing degrees against the surviving set
    * each round. Returns the surviving nodes with their in-core degree.
    * A fixed round budget makes the operator a deterministic dataflow (the
    * exact fixpoint needs a data-dependent loop; in practice degeneracy
    * cores stabilize in a handful of rounds, and the budget is a parameter).
    * All-integer arithmetic — bit-equal in any engine.
    *
    * Scale shape: per round, one degree aggregate over the edge list plus
    * two semi-joins to drop edges with a peeled endpoint. State is
    * (node)-keyed; edges are never rekeyed off their endpoints. */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 1 && rounds >= 1)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("s1").as("node")).union(e.select(col("s2").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    // The early exit is exact, not an approximation: once a round peels no
    // edge, every further round is the identity.
    var kept = 0L
    val stable = Some { (next: DataFrame) =>
      val n = next.count()
      try n == kept finally kept = n
    }
    val e = edges.select("s1", "s2")
    IterState.fixpoint(e, rounds, stable) { (in, rows) => kept = rows; in } { (_, cur) =>
      val keep = degrees(cur).filter(col("deg") >= k).select("node")
      cur.join(keep.withColumnRenamed("node", "s1"), Seq("s1"), "left_semi")
        .join(keep.withColumnRenamed("node", "s2"), Seq("s2"), "left_semi")
    }(degrees(_).filter(col("deg") >= k).orderBy("node"))
  }

  /** Common-neighbor link prediction: for every NON-adjacent pair at
    * distance 2, the number of shared neighbors and the neighborhood
    * Jaccard |N∩N| / |N∪N|, top `topK` by (common desc, jaccard desc,
    * pair) — fully tie-broken, so the cut is deterministic. Candidates
    * come only from wedges (pairs sharing at least one neighbor) — the
    * non-edge universe is never enumerated. Jaccard is an exact integer
    * ratio rounded once, so it is cross-engine stable.
    *
    * Scale shape: wedge join keyed on the shared neighbor, one pair-count
    * aggregate, an anti-join against the edge list, a broadcast-sized
    * degree join, then TakeOrderedAndProject for the top-k cut. */
  def linkPrediction(edges: DataFrame, topK: Int = 100): DataFrame =
    // the session width, not [[IterState.withStateShuffle]] (r15): the
    // wedge join emits Σ_mid deg(mid)² rows, DATA-sized; sizing by |e| ran
    // the final aggregate single-partition for 10.6 s, and sizing by the
    // exact wedge estimate measured 5.50 → 9.13 s paired
    // (OPTIMIZATION_r15.md)
    IterState.snapshotCached(edges.select("s1", "s2")) { e =>
      val nbrs = IterState.symmetric(e, "s1", "s2").toDF("node", "nbr")
      val deg = nbrs.groupBy("node").agg(count(lit(1)).as("deg"))
      val cand = nbrs.select(col("nbr").as("mid"), col("node").as("a"))
        .join(nbrs.select(col("nbr").as("mid"), col("node").as("c")), "mid")
        .filter(col("a") < col("c"))
        .groupBy("a", "c").agg(count(lit(1)).as("common"))
        .join(e.select(col("s1").as("a"), col("s2").as("c")), Seq("a", "c"),
          "left_anti")
      cand
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("c"), col("deg").as("dc")), "c")
        .select(col("a"), col("c"), col("common"),
          round(col("common").cast(DoubleType) /
            (col("da") + col("dc") - col("common")), 6).as("nbr_jaccard"))
        .orderBy(col("common").desc, col("nbr_jaccard").desc, col("a"), col("c"))
        .limit(topK)
    }

  /** Synchronous label propagation, `rounds` fixed rounds: every node
    * adopts the most frequent label among its neighbors, smallest label
    * winning ties (the deterministic variant of Raghavan et al.'s LPA —
    * async adoption with random tie-breaks is irreproducible across
    * engines by construction). Labels start as the node's own id; isolated
    * vote sets keep the current label. All-integer — bit-equal anywhere.
    *
    * Scale shape: per round, one adjacency⋈labels equi-join, one
    * (node, label) count aggregate, and a struct-max argmin — no window
    * over the fact-sized frame. Label state is one row per node. The
    * votes frame is TOTAL on the node set by induction (labels always
    * cover every adjacency node, the adjacency is undirected, so every
    * node has ≥1 labeled neighbor every round) — no isolated-node
    * backfill join is needed, which saves a nodes-distinct re-aggregate
    * and a left join per round (6.6 → 3.5 s at sf0.1, PERF.md r10). */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    IterState.fixpoint(IterState.symmetric(edges, "s1", "s2").toDF("node", "nbr"), rounds)(
      (adj, _) => adj.select("node").distinct().select(col("node"), col("node").as("label"))) {
      (adj, labels) => adj
        .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        // struct max = (max cnt, then min label via negation): the argmin
        // without a per-node window pass
        .groupBy("node")
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("top"))
        .select(col("node"), (-col("top.nl")).as("label"))
    }(_.orderBy("node"))
  }

  /** `maxHops` chained [[IterState.hop]]s from `(seed, zero)` over the
    * adjacency `(a, b, …)`, partitioned on the probe key `a` before the
    * driver checkpoints it, so every hop reads the checkpoint co-located
    * and exchanges only the node-sized state (~1.4× off the traversal,
    * PERF.md r10). `seeds` draws the seed frame `(node)` from that
    * checkpoint. No hop ends in an action: the hops are one lazy plan, cut
    * every [[IterState.CheckpointEvery]] hops (11.3 s of per-hop scheduler
    * rounds before, PERF.md r10). After h hops the state holds every node
    * within h steps of the seeds at its least distance, as `(node, dist)`. */
  private def relaxHops(adjacency: DataFrame, seeds: DataFrame => DataFrame, zero: Column,
                        step: Column, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"need at least one hop, got $maxHops")
    IterState.fixpoint(adjacency.repartition(col("a")), maxHops)(
      (adj, _) => seeds(adj).select(col("node"), zero.as("d")))(
      IterState.hop(_, step)(_))(_.select(col("node"), col("d").as("dist")))
  }

  /** Multi-source BFS layers over an undirected `(s1 < s2)` edge list:
    * hop distance from the seed set, up to `maxHops` — the reachability /
    * blast-radius query (how far does influence from these accounts
    * spread; which docs sit within k citation hops of a contaminated
    * seed). Set semantics + integer distances => deterministic, no
    * tie-breaks needed. [[relaxHops]] with step `d + 1`. */
  def bfsLayers(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    bfsFrom(edges, _ => seeds, maxHops)

  private def bfsFrom(edges: DataFrame, seeds: DataFrame => DataFrame,
                      maxHops: Int): DataFrame =
    relaxHops(IterState.symmetric(edges, "s1", "s2"), seeds, lit(0), col("d") + 1, maxHops)

  /** Bounded-hop weighted shortest paths (Bellman–Ford relax rounds) from
    * a seed set: the weighted companion of [[bfsLayers]] — "how CLOSE is
    * every reachable node", not just how many hops. Edge cost is the
    * inverse tie strength `round(1/w, 6)` (strong co-activity = short
    * distance). Each of the `maxHops` rounds is one edge-keyed join
    * (candidate relaxations) plus one node-keyed min — the Pregel
    * shortest-path recurrence as plain keyed frames, [[relaxHops]] with
    * step `round(d + c, 6)`. Candidate distances re-round to 6 every
    * round, so both engines chain IDENTICAL doubles and the min is over
    * equal values; a node the bound never reaches is simply absent (no
    * infinities to compare). */
  def ssspBounded(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    ssspFrom(edges, _ => seeds, maxHops)

  private def ssspFrom(edges: DataFrame, seeds: DataFrame => DataFrame,
                       maxHops: Int): DataFrame =
    relaxHops(IterState.symmetric(edges, "s1", "s2",
        round(lit(1.0) / col("w").cast(DoubleType), 6).as("c")),
      seeds, lit(0.0), round(col("d") + col("c"), 6), maxHops)

  // ---------------------------------------------------------------- entries

  private val pageRankQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    pageRank(transitionEdges(t.events, "user_id", "ts", "event_type",
      "event_id")).orderBy("node")
  }

  private val triangleQ: Q = (s, dir) =>
    triangleCounts(coActivityEdges(Tables(s, dir).events))

  private val kcoreQ: Q = (s, dir) =>
    kCore(coActivityEdges(Tables(s, dir).events), k = 3, rounds = 4)

  private val linkPredQ: Q = (s, dir) =>
    linkPrediction(coActivityEdges(Tables(s, dir).events), topK = 100)

  private val lpaQ: Q = (s, dir) =>
    labelPropagation(coActivityEdges(Tables(s, dir).events), rounds = 3)

  /** Seeds = the 5 lowest node ids in the edge list (deterministic),
    * read from the adjacency checkpoint, so the edge build runs once. */
  private def lowestNodes(adj: DataFrame): DataFrame =
    adj.select(col("a").as("node")).distinct().orderBy("node").limit(5)

  private val bfsQ: Q = (s, dir) =>
    bfsFrom(coActivityEdges(Tables(s, dir).events), lowestNodes, maxHops = 3)
      .orderBy("dist", "node")

  /** Same 5-lowest-id seed set as [[bfsQ]]; 3 relax rounds. */
  private val ssspQ: Q = (s, dir) =>
    ssspFrom(coActivityEdges(Tables(s, dir).events), lowestNodes, maxHops = 3)
      .orderBy("node")

  /** Shared oracle prefix: the [[coActivityEdges]] build in DuckDB SQL —
    * same bucket cap (64), same distinct-pair count, same `w >= 3` floor. */
  private val edgeCtes =
    """b AS (
      |  SELECT DISTINCT user_id AS u, event_type AS et,
      |         date_trunc('hour', ts) AS h
      |  FROM events),
      |cool AS (SELECT et, h FROM b GROUP BY 1, 2 HAVING count(*) <= 64),
      |bb AS (SELECT b.u, b.et, b.h FROM b JOIN cool USING (et, h)),
      |ed AS (
      |  SELECT x.u AS s1, y.u AS s2, count(*) AS w
      |  FROM bb x JOIN bb y ON x.et = y.et AND x.h = y.h AND x.u < y.u
      |  GROUP BY 1, 2 HAVING count(*) >= 3)""".stripMargin

  val entries: Seq[Entry] = Seq(
    // generated: the identical contribution/teleport expressions per
    // iteration, decimal-summed, so all five rounds stay bit-equal
    Entry("g1_pagerank", pageRankQ, Some {
      val (damping, teleport, iters) = (0.85, 0.15, 5)
      val iterCtes = (1 to iters).map { k =>
        s"""r$k AS (
           |  SELECT nd.node,
           |         round($teleport / nn.n + $damping
           |               * coalesce(CAST(c.s AS DOUBLE), 0.0), 12) AS p
           |  FROM nodes nd CROSS JOIN nn LEFT JOIN (
           |    SELECT er.dst,
           |           sum(CAST(round(r.p * er.ratio, 12) AS DECIMAL(32,12))) AS s
           |    FROM er JOIN r${k - 1} r ON er.src = r.node GROUP BY 1) c
           |  ON nd.node = c.dst)"""
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT event_type AS src,
         |         lead(event_type) OVER (PARTITION BY user_id
         |                                ORDER BY ts, event_id) AS dst
         |  FROM events),
         |edges AS (
         |  SELECT src, dst, count(*) AS w FROM e0
         |  WHERE dst IS NOT NULL GROUP BY 1, 2),
         |nodes AS (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM edges
         |    UNION ALL SELECT dst FROM edges)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |ow AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
         |er AS (
         |  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS ratio
         |  FROM edges e JOIN ow o ON e.src = o.src),
         |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS p
         |       FROM nodes CROSS JOIN nn),
         |$iterCtes
         |SELECT node, p FROM r$iters ORDER BY node""".stripMargin
    }),
    Entry("g2_triangle_count", triangleQ, Some(
      s"""WITH $edgeCtes,
         |tri AS (
         |  SELECT e1.s1 AS a, e1.s2 AS b2, e2.s2 AS c
         |  FROM ed e1 JOIN ed e2 ON e1.s2 = e2.s1
         |  JOIN ed e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
         |corners AS (
         |  SELECT a AS node FROM tri
         |  UNION ALL SELECT b2 FROM tri
         |  UNION ALL SELECT c FROM tri)
         |SELECT node, count(*) AS n_triangles
         |FROM corners GROUP BY 1 ORDER BY node""".stripMargin), headline = true),
    Entry("g3_kcore", kcoreQ, Some {
      val (k, rounds) = (3, 4)
      // each round's edge set is MATERIALIZED: inlined, every round
      // re-expands the whole self-join tree below it, and at sf0.01 DuckDB
      // ran ~22 min and failed (materialized: 0.4 s)
      val roundCtes = (1 to rounds).map { r =>
        s"""d${r - 1} AS (
           |  SELECT node, count(*) AS deg FROM (
           |    SELECT s1 AS node FROM e${r - 1}
           |    UNION ALL SELECT s2 FROM e${r - 1})
           |  GROUP BY 1),
           |keep${r - 1} AS (SELECT node FROM d${r - 1} WHERE deg >= $k),
           |e$r AS MATERIALIZED (
           |  SELECT e.s1, e.s2 FROM e${r - 1} e
           |  JOIN keep${r - 1} k1 ON e.s1 = k1.node
           |  JOIN keep${r - 1} k2 ON e.s2 = k2.node)"""
      }.mkString(",\n")
      s"""WITH $edgeCtes,
         |e0 AS MATERIALIZED (SELECT s1, s2 FROM ed),
         |$roundCtes
         |SELECT node, count(*) AS deg FROM (
         |  SELECT s1 AS node FROM e$rounds
         |  UNION ALL SELECT s2 FROM e$rounds)
         |GROUP BY 1 HAVING count(*) >= $k ORDER BY node""".stripMargin
    }, headline = true),
    Entry("g4_link_prediction", linkPredQ, Some(
      s"""WITH $edgeCtes,
         |nb AS (
         |  SELECT s1 AS node, s2 AS nbr FROM ed
         |  UNION ALL SELECT s2, s1 FROM ed),
         |dg AS (SELECT node, count(*) AS deg FROM nb GROUP BY 1),
         |cd AS (
         |  SELECT x.node AS a, y.node AS c, count(*) AS common
         |  FROM nb x JOIN nb y ON x.nbr = y.nbr AND x.node < y.node
         |  GROUP BY 1, 2),
         |ne AS (
         |  SELECT cd.* FROM cd
         |  WHERE NOT EXISTS (SELECT 1 FROM ed
         |                    WHERE ed.s1 = cd.a AND ed.s2 = cd.c))
         |SELECT ne.a, ne.c, ne.common,
         |       round(ne.common * 1.0 / (da.deg + dc.deg - ne.common), 6)
         |         AS nbr_jaccard
         |FROM ne JOIN dg da ON da.node = ne.a JOIN dg dc ON dc.node = ne.c
         |ORDER BY ne.common DESC, nbr_jaccard DESC, ne.a, ne.c
         |LIMIT 100""".stripMargin), headline = true),
    Entry("g5_label_propagation", lpaQ, Some {
      val rounds = 3
      val roundCtes = (1 to rounds).map { r =>
        s"""v$r AS (
           |  SELECT nb.node, l.label, count(*) AS cnt
           |  FROM nb JOIN l${r - 1} l ON nb.nbr = l.node GROUP BY 1, 2),
           |t$r AS (
           |  SELECT node, label,
           |         row_number() OVER (PARTITION BY node
           |                            ORDER BY cnt DESC, label) AS rn
           |  FROM v$r),
           |l$r AS (
           |  SELECT n.node, coalesce(t.label, n.node) AS label
           |  FROM nodes n LEFT JOIN (SELECT node, label FROM t$r WHERE rn = 1) t
           |  USING (node))"""
      }.mkString(",\n")
      s"""WITH $edgeCtes,
         |nb AS (
         |  SELECT s1 AS node, s2 AS nbr FROM ed
         |  UNION ALL SELECT s2, s1 FROM ed),
         |nodes AS (SELECT DISTINCT node FROM nb),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |$roundCtes
         |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
    }, headline = true),
    // generated: one (frontier-join + anti-join) CTE pair per hop,
    // mirroring bfsLayers' visited-set recursion exactly
    Entry("g6_bfs_layers", bfsQ, Some {
      val maxHops = 3
      val hopCtes = (1 to maxHops).map { h =>
        s"""f$h AS (
           |  SELECT DISTINCT nb.b AS node, $h AS dist
           |  FROM nb JOIN v${h - 1} v ON nb.a = v.node
           |  WHERE nb.b NOT IN (SELECT node FROM v${h - 1})),
           |v$h AS (SELECT node, dist FROM v${h - 1}
           |        UNION ALL SELECT node, dist FROM f$h)"""
      }.mkString(",\n")
      s"""WITH $edgeCtes,
         |nb AS (
         |  SELECT s1 AS a, s2 AS b FROM ed
         |  UNION ALL SELECT s2, s1 FROM ed),
         |seeds AS (
         |  SELECT node FROM (
         |    SELECT DISTINCT s1 AS node FROM ed
         |    UNION SELECT s2 FROM ed)
         |  ORDER BY node LIMIT 5),
         |v0 AS (SELECT node, 0 AS dist FROM seeds),
         |$hopCtes
         |SELECT node, CAST(dist AS INT) AS dist FROM v$maxHops
         |ORDER BY dist, node""".stripMargin
    }, headline = true),
    // candidate distances re-round to 6 every relax round, so both
    // engines chain identical doubles and min() compares equal values
    Entry("g7_sssp_bounded", ssspQ, Some {
      val maxHops = 3
      val hopCtes = (1 to maxHops).map { h =>
        s"""d$h AS (
           |  SELECT node, min(d) AS d FROM (
           |    SELECT node, d FROM d${h - 1}
           |    UNION ALL
           |    SELECT nb.b AS node, round(v.d + nb.c, 6) AS d
           |    FROM nb JOIN d${h - 1} v ON nb.a = v.node)
           |  GROUP BY 1)"""
      }.mkString(",\n")
      s"""WITH $edgeCtes,
         |nb AS (
         |  SELECT s1 AS a, s2 AS b,
         |         round(CAST(1 AS DOUBLE) / w, 6) AS c FROM ed
         |  UNION ALL
         |  SELECT s2, s1, round(CAST(1 AS DOUBLE) / w, 6) FROM ed),
         |seeds AS (
         |  SELECT node FROM (
         |    SELECT DISTINCT s1 AS node FROM ed
         |    UNION SELECT s2 FROM ed)
         |  ORDER BY node LIMIT 5),
         |d0 AS (SELECT node, CAST(0 AS DOUBLE) AS d FROM seeds),
         |$hopCtes
         |SELECT node, d AS dist FROM d$maxHops ORDER BY node""".stripMargin
    }, headline = true),
  )
}
