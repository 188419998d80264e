package graft.operators

import graft.Tables
import graft.Ops.{Entry, Q, spread}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution / record linkage — blocking + edit-distance scoring +
  * best-match adjudication.
  *
  * A training-data pipeline meets this the moment two sources describe the
  * same real-world entities with slightly different strings (crawl metadata
  * vs registry dumps, OCR'd names vs canonical ones). The naive formulation
  * is an all-pairs string comparison — O(n·m) and a non-starter at scale.
  * The standard scalable design, used here:
  *
  *   1. BLOCKING: equi-join the two sides on cheap, reliable attributes
  *      (here: nation + market segment). Candidate generation collapses
  *      from |dirty|·|clean| to Σ over blocks of |d_b|·|c_b| — a plain
  *      hash-partitioned equi-join Spark shuffles once per side, AQE-aware,
  *      hot blocks saltable exactly like any skewed join key
  *      (see [[Skew]]). When the blocking attributes are themselves dirty,
  *      run multiple passes with different keys and union the candidates —
  *      the pair surface is a set, so multi-pass is just `unionByName` +
  *      `dropDuplicates` upstream of scoring.
  *   2. SCORING: `levenshtein` on the name pair — codegen'd, per-candidate,
  *      no shuffle. A distance cap keeps only plausible matches.
  *   3. ADJUDICATION: one window per dirty record (partitioned on the dirty
  *      key — data-parallel, no global sort) picks the minimum-distance
  *      match, fully tie-broken so the result is deterministic.
  *
  * The test harness perturbs `customer.c_name` deterministically (each
  * record drops the character at position `c_custkey % length(name)`), so
  * ground truth is known and the oracle can re-derive every stage — the
  * match-accuracy entry is an end-to-end hash-checked measurement of the
  * whole linkage, not a spot check.
  *
  * Reference scope note: the reference has no linkage/fuzzy-match surface
  * at all (its joins are all equi-joins on surrogate keys — see the star
  * schema FK joins in ex03_sql_table_creation/dw_load_incremental.sql and
  * dw_load_reference.sql); this family is part of the
  * training-data-pipeline extension the brief asks for.
  */
object Linkage {

  /** Candidate pairs via blocking: equi-join on `blockCols`, keep pairs
    * with `levenshtein(dirtyName, cleanName) <= maxDist`. Both inputs must
    * carry the block columns; the dirty side's id/name columns are taken
    * as-is. Output: one row per surviving candidate pair. */
  def blockedCandidates(dirty: DataFrame, clean: DataFrame,
                        blockCols: Seq[String],
                        dirtyId: String, dirtyName: String,
                        cleanId: String, cleanName: String,
                        maxDist: Int): DataFrame =
    // The probe side is spread by a content-derived key before the join
    // (r15, guide §2.5/§1.2): the clean master broadcasts, so the
    // block-quadratic scoring runs entirely in the probe side's partitions
    // — which are SCAN SPLITS, i.e. ONE task when the dirty batch arrives
    // as a single small file (r15 JobAudit, now the `Bench` probe: 3.16 s
    // of the 3.6 s entry in one single-task stage on a 32-core session). One narrow exchange of the
    // dirty projection spreads the Σ|d_b|·|c_b| per-pair CPU across the
    // session width — the standard distribute-before-score shape of a
    // production ER deployment (the scoring grows block-quadratically,
    // the exchange linearly, so the trade only improves with scale).
    // xxhash64 of the dirty id: deterministic under task retry (content-
    // derived, never round-robin — PlanSpec pins), uniform at any width.
    // Width pinned to defaultParallelism (the mm_video_frames r14 form):
    // an unpinned keyed repartition is AQE-coalescible, and the advisory
    // byte sizing — blind to the ~|c_b|× fan-out the join applies ABOVE
    // the exchange — merged the KB-sized probe back into ONE partition.
    spread(dirty, dirtyId)
      .join(clean, blockCols)
      // banded Levenshtein: the 3-arg form computes only a 2·maxDist+1
      // diagonal band and bails to -1 past the threshold — O(maxDist·len)
      // per pair instead of O(len²), and in-band distances are exact, so
      // the survivors and their scores are identical to the unbounded form
      .withColumn("lev", levenshtein(col(dirtyName), col(cleanName), maxDist))
      .filter(col("lev") >= 0 && col("lev") <= maxDist)
      .select(col(dirtyId), col(cleanId), col("lev"))

  /** Sorted-neighborhood candidate generation (the Hernández–Stolfo
    * merge/purge method, adapted to per-block windows): both sides merge
    * into one tagged stream, sort by the name inside each block, and each
    * record pairs with the `window` records after it — cross-side pairs
    * only. The complement to [[blockedCandidates]]: equi-blocking needs
    * EVERY blocking attribute clean, while SNM relies only on the sort
    * key's ORDER being mostly preserved by the corruption, so it still
    * finds matches when a secondary attribute (here: market segment) is
    * itself dirty. Its classic weakness is dual: a corrupted leading
    * character teleports a record across the sort order, and window w
    * misses matches whose neighborhoods are crowded — both show up
    * mechanically in the `link_snm_accuracy` measurement rather than
    * being asserted away.
    *
    * Scale shape: one Exchange on the block key feeds the per-block sort
    * window (data-parallel — never a global window), the offset explode
    * fans each record out w ways, and the rank equi-join pairs them:
    * candidates are exactly (n − 1)·w per block, LINEAR in n with the
    * window as the constant — the property that makes SNM run where
    * all-pairs can't. In production the block key doubles as the storage
    * partition key and multi-pass SNM (different sort keys, union, dedup
    * upstream of scoring) covers the leading-character weakness. */
  def sortedNeighborhoodCandidates(dirty: DataFrame, clean: DataFrame,
                                   blockCol: String,
                                   dirtyId: String, dirtyName: String,
                                   cleanId: String, cleanName: String,
                                   window: Int): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    val d = dirty.select(col(blockCol).as("__b"), col(dirtyId).as("__id"),
      col(dirtyName).as("__name"), lit("d").as("__side"))
    val c = clean.select(col(blockCol).as("__b"), col(cleanId).as("__id"),
      col(cleanName).as("__name"), lit("c").as("__side"))
    // fully tie-broken rank => deterministic pair surface
    val ranked = d.unionByName(c).withColumn("__rank",
      row_number().over(Window.partitionBy("__b")
        .orderBy(col("__name"), col("__side"), col("__id"))))
    val probe = ranked.select(col("__b"), col("__id").as("__id_a"),
      col("__name").as("__name_a"), col("__side").as("__side_a"),
      col("__rank").as("__rank_a"),
      explode(sequence(col("__rank") + 1, col("__rank") + window))
        .as("__rank_b"))
    val base = ranked.select(col("__b"), col("__id").as("__id_b"),
      col("__name").as("__name_b"), col("__side").as("__side_b"),
      col("__rank").as("__rank_b"))
    probe.join(base, Seq("__b", "__rank_b"))
      .filter(col("__side_a") =!= col("__side_b"))
      .select(
        when(col("__side_a") === "d", col("__id_a"))
          .otherwise(col("__id_b")).as(dirtyId),
        when(col("__side_a") === "d", col("__name_a"))
          .otherwise(col("__name_b")).as(dirtyName),
        when(col("__side_a") === "d", col("__id_b"))
          .otherwise(col("__id_a")).as(cleanId),
        when(col("__side_a") === "d", col("__name_b"))
          .otherwise(col("__name_a")).as(cleanName),
        (col("__rank_b") - col("__rank_a")).as("rank_gap"))
  }

  /** Best match per dirty record: minimum distance, ties broken by the
    * clean id (fully deterministic). One window partitioned on the dirty
    * key — no global ordering anywhere. */
  def bestMatch(candidates: DataFrame, dirtyId: String, cleanId: String,
                distCol: String = "lev"): DataFrame = {
    val w = Window.partitionBy(col(dirtyId))
      .orderBy(col(distCol).asc, col(cleanId).asc)
    candidates
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  // ---------------------------------------------------------------- entries

  /** Deterministically perturbed copy of `customer`: drop the character at
    * 0-based position `c_custkey % length(c_name)`. Blocking attributes
    * (nation, segment) are kept clean — the standard assumption that SOME
    * attributes are reliable; the scaladoc above covers the multi-pass
    * escape hatch when they are not. */
  private def dirtyCustomers(t: Tables): DataFrame = {
    val c = t.customer
    val pos = (col("c_custkey") % length(col("c_name"))).cast("int")
    c.select(
      col("c_custkey").as("d_id"),
      concat(col("c_name").substr(lit(1), pos),
        col("c_name").substr(pos + lit(2), lit(64))).as("d_name"),
      col("c_nationkey"), col("c_mktsegment"))
  }

  private def cleanCustomers(t: Tables): DataFrame =
    t.customer.select(col("c_custkey").as("m_id"), col("c_name"),
      col("c_nationkey"), col("c_mktsegment"))

  private def candidates(s: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame = {
    val t = Tables(s, dir)
    blockedCandidates(dirtyCustomers(t), cleanCustomers(t),
      Seq("c_nationkey", "c_mktsegment"),
      "d_id", "d_name", "m_id", "c_name", maxDist = 2)
  }

  private val candidatesQ: Q = (s, dir) =>
    candidates(s, dir).orderBy("d_id", "m_id")

  /** The same blocked pair stream scored with native Jaro–Winkler
    * ([[graft.functions.GraftJaroWinkler]]) instead of an edit-distance
    * cap — the better-behaved measure for short name-like strings
    * (prefix-weighted, transposition-tolerant). Threshold applies to the
    * ROUNDED score so the cut is reproducible across engines. */
  private val jaroScoredQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    // spread the probe side before the broadcast block join — same
    // rationale as [[blockedCandidates]] (the JW scoring of the block
    // cross product ran as ONE task off the single scan split)
    spread(dirtyCustomers(t), "d_id")
      .join(cleanCustomers(t), Seq("c_nationkey", "c_mktsegment"))
      .withColumn("jw", round(
        call_function("graft_jaro_winkler", col("d_name"), col("c_name")), 4))
      .filter(col("jw") >= 0.97)
      .select(col("d_id"), col("m_id"), col("jw"))
      // (the output orderBy's range sampler still re-runs the join+score
      // subtree above the spread exchange once more — a hash repartition
      // inserted here to materialize the survivors was tried and is
      // ELIMINATED by the optimizer as redundant under the sort's own
      // range exchange, so the sampling pass stays; it is session-width
      // parallel now, ~0.05 s — see OPTIMIZATION_r15.md)
      .orderBy("d_id", "m_id")
  }

  private val bestMatchQ: Q = (s, dir) =>
    bestMatch(candidates(s, dir), "d_id", "m_id")
      .withColumn("correct", (col("d_id") === col("m_id")).cast("int"))
      .orderBy("d_id")

  /** End-to-end linkage quality: how many dirty records found any match,
    * and how many resolved to their true identity. */
  private val accuracyQ: Q = (s, dir) =>
    bestMatch(candidates(s, dir), "d_id", "m_id")
      .agg(count(lit(1)).as("n_matched"),
        sum((col("d_id") === col("m_id")).cast("int")).as("n_correct"))
      .select(col("n_matched"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_matched"), 4)
          .as("accuracy"))

  /** Incremental linkage: only a NEW batch of dirty records (here the
    * `d_id % 5 == 0` convention shared with the incremental dedup entries)
    * probes the full clean master — the production shape when records
    * arrive in batches: the master is never re-paired against itself,
    * candidate cost is |batch|-proportional. Same blocking, same scoring,
    * same adjudication as the full run. */
  private val incrementalQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    bestMatch(
      blockedCandidates(dirtyCustomers(t).filter(col("d_id") % 5 === 0),
        cleanCustomers(t), Seq("c_nationkey", "c_mktsegment"),
        "d_id", "d_name", "m_id", "c_name", maxDist = 2),
      "d_id", "m_id")
      .withColumn("correct", (col("d_id") === col("m_id")).cast("int"))
      .orderBy("d_id")
  }

  /** Entity clusters over the match graph: candidate pairs whose two sides
    * differ link records into one real-world entity; min-label connected
    * components (the same [[Dedup.connectedComponents]] propagation the
    * dedup clusters use — (id, label) state, edge checkpoint partitioned on
    * the probe key) collapse transitive chains A~B~C into one entity id.
    * This is the step that turns pairwise linkage into a deduplicated
    * entity table; survivorship policy on top is [[Dedup.canonicalKeep]]'s
    * pattern. */
  private val entityClustersQ: Q = (s, dir) =>
    Dedup.connectedComponents(
      candidates(s, dir).filter(col("d_id") =!= col("m_id"))
        .select(col("d_id").as("id_a"), col("m_id").as("id_b")),
      // near-name numerals chain (…012 ~ …002 ~ …)  — a path-shaped graph,
      // so propagate with pointer jumping: O(log diameter) rounds
      pathCompression = true)
      .select(col("id"), col("label").as("entity"))
      .orderBy("id")

  /** Blocking-quality audit: per-block dirty/clean/candidate counts plus
    * the quantity a production ER deployment alarms on — the share of the
    * naive |dirty|·|clean| cross product the blocking actually generates.
    * Block-count-sized metadata (125 rows here), one aggregation each
    * side; this is the frame that tells you WHEN to re-key or salt, before
    * a hot block melts an executor. */
  private val blockStatsQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val d = dirtyCustomers(t).groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_dirty"))
    val c = cleanCustomers(t).groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_clean"))
    d.join(c, Seq("c_nationkey", "c_mktsegment"), "full_outer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        coalesce(col("n_dirty"), lit(0L)).as("n_dirty"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"),
        (coalesce(col("n_dirty"), lit(0L)) *
          coalesce(col("n_clean"), lit(0L))).as("n_candidates"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  private def snmCandidates(s: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame = {
    val t = Tables(s, dir)
    sortedNeighborhoodCandidates(dirtyCustomers(t), cleanCustomers(t),
      "c_nationkey", "d_id", "d_name", "m_id", "c_name", window = 3)
  }

  /** The SNM pair surface itself (nation block, name sort, w = 3): the
    * exact windowed candidate set the oracle re-derives rank by rank. */
  private val snmCandidatesQ: Q = (s, dir) =>
    snmCandidates(s, dir).select("d_id", "m_id", "rank_gap")
      .orderBy("d_id", "m_id", "rank_gap")

  /** End-to-end MULTI-PASS SNM linkage quality, directly comparable to
    * [[accuracyQ]]'s equi-blocking run (market segment deliberately NOT
    * used as a key). Single-pass SNM measures 0.42 accuracy on this
    * corruption — the textbook weakness made concrete: the names share a
    * long constant prefix, so a character dropped EARLY teleports the
    * record across the forward sort order. The standard fix is standard
    * for a reason: a second pass sorted by the REVERSED name catches
    * exactly those records (their suffixes are intact), the candidate
    * union stays linear (2·(n−1)·w per block), and measured accuracy
    * recovers to the blocking run's level. Names for scoring are re-read
    * from the sources by id, so the reversed pass never leaks its sort
    * key into the Levenshtein. */
  private val snmAccuracyQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val d = dirtyCustomers(t)
    val c = cleanCustomers(t)
    val fwd = snmCandidates(s, dir).select("d_id", "m_id")
    val rev = sortedNeighborhoodCandidates(
      d.withColumn("d_name", reverse(col("d_name"))),
      c.withColumn("c_name", reverse(col("c_name"))),
      "c_nationkey", "d_id", "d_name", "m_id", "c_name", window = 3)
      .select("d_id", "m_id")
    val scored = fwd.unionByName(rev).distinct()
      .join(d.select(col("d_id"), col("d_name")), "d_id")
      .join(c.select(col("m_id"), col("c_name")), "m_id")
      .withColumn("lev", levenshtein(col("d_name"), col("c_name"), 2))
      .filter(col("lev") >= 0 && col("lev") <= 2)
      .select("d_id", "m_id", "lev")
    bestMatch(scored, "d_id", "m_id")
      .agg(count(lit(1)).as("n_matched"),
        sum((col("d_id") === col("m_id")).cast("int")).as("n_correct"))
      .select(col("n_matched"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_matched"), 4)
          .as("accuracy"))
  }

  private val dirtySql =
    """dirty AS (
      |  SELECT c_custkey AS d_id,
      |         concat(substr(c_name, 1,
      |                       CAST(c_custkey % length(c_name) AS INT)),
      |                substr(c_name,
      |                       CAST(c_custkey % length(c_name) AS INT) + 2))
      |           AS d_name,
      |         c_nationkey, c_mktsegment
      |  FROM customer),
      |cand AS (
      |  SELECT d.d_id, c.c_custkey AS m_id,
      |         levenshtein(d.d_name, c.c_name) AS lev
      |  FROM dirty d JOIN customer c
      |    ON d.c_nationkey = c.c_nationkey
      |   AND d.c_mktsegment = c.c_mktsegment
      |  WHERE levenshtein(d.d_name, c.c_name) <= 2)""".stripMargin

  /** Shared SNM prefix: the merged, block-ranked stream and the windowed
    * cross-side pair set — rank-for-rank the operator's construction. */
  private val snmSql =
    """dirty AS (
      |  SELECT c_custkey AS d_id,
      |         concat(substr(c_name, 1,
      |                       CAST(c_custkey % length(c_name) AS INT)),
      |                substr(c_name,
      |                       CAST(c_custkey % length(c_name) AS INT) + 2))
      |           AS d_name,
      |         c_nationkey
      |  FROM customer),
      |allr AS (
      |  SELECT c_nationkey AS b, d_id AS id, d_name AS name, 'd' AS side
      |  FROM dirty
      |  UNION ALL
      |  SELECT c_nationkey AS b, c_custkey AS id, c_name AS name, 'c' AS side
      |  FROM customer),
      |r AS (
      |  SELECT b, id, name, side,
      |         row_number() OVER (PARTITION BY b
      |                            ORDER BY name, side, id) AS rk
      |  FROM allr),
      |p AS (
      |  SELECT CASE WHEN a.side = 'd' THEN a.id ELSE t.id END AS d_id,
      |         CASE WHEN a.side = 'd' THEN a.name ELSE t.name END AS d_name,
      |         CASE WHEN a.side = 'd' THEN t.id ELSE a.id END AS m_id,
      |         CASE WHEN a.side = 'd' THEN t.name ELSE a.name END AS c_name,
      |         CAST(t.rk - a.rk AS INT) AS rank_gap
      |  FROM r a JOIN r t
      |    ON a.b = t.b AND t.rk > a.rk AND t.rk <= a.rk + 3
      |  WHERE a.side <> t.side)""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("link_snm_candidates", snmCandidatesQ, Some(
      s"""WITH $snmSql
         |SELECT d_id, m_id, rank_gap FROM p
         |ORDER BY d_id, m_id, rank_gap""".stripMargin)),
    Entry("link_snm_accuracy", snmAccuracyQ, Some(
      s"""WITH $snmSql,
         |allr2 AS (
         |  SELECT c_nationkey AS b, d_id AS id, reverse(d_name) AS name,
         |         'd' AS side
         |  FROM dirty
         |  UNION ALL
         |  SELECT c_nationkey AS b, c_custkey AS id, reverse(c_name) AS name,
         |         'c' AS side
         |  FROM customer),
         |r2 AS (
         |  SELECT b, id, name, side,
         |         row_number() OVER (PARTITION BY b
         |                            ORDER BY name, side, id) AS rk
         |  FROM allr2),
         |p2 AS (
         |  SELECT CASE WHEN a.side = 'd' THEN a.id ELSE t.id END AS d_id,
         |         CASE WHEN a.side = 'd' THEN t.id ELSE a.id END AS m_id
         |  FROM r2 a JOIN r2 t
         |    ON a.b = t.b AND t.rk > a.rk AND t.rk <= a.rk + 3
         |  WHERE a.side <> t.side),
         |pairs AS (SELECT DISTINCT d_id, m_id FROM
         |          (SELECT d_id, m_id FROM p UNION ALL
         |           SELECT d_id, m_id FROM p2)),
         |scored AS (
         |  SELECT pr.d_id, pr.m_id,
         |         levenshtein(d.d_name, c.c_name) AS lev
         |  FROM pairs pr
         |  JOIN dirty d ON pr.d_id = d.d_id
         |  JOIN customer c ON pr.m_id = c.c_custkey
         |  WHERE levenshtein(d.d_name, c.c_name) <= 2),
         |best AS (
         |  SELECT d_id, m_id,
         |         row_number() OVER (PARTITION BY d_id
         |                            ORDER BY lev, m_id) AS rk
         |  FROM scored)
         |SELECT count(*) AS n_matched,
         |       CAST(sum(CAST(d_id = m_id AS INT)) AS BIGINT) AS n_correct,
         |       round(sum(CAST(d_id = m_id AS INT)) * 1.0 / count(*), 4)
         |         AS accuracy
         |FROM best WHERE rk = 1""".stripMargin), headline = true),
    Entry("link_candidates", candidatesQ, Some(
      s"""WITH $dirtySql
         |SELECT d_id, m_id, lev FROM cand ORDER BY d_id, m_id""".stripMargin)),
    Entry("link_best_match", bestMatchQ, Some(
      s"""WITH $dirtySql,
         |best AS (
         |  SELECT d_id, m_id, lev,
         |         row_number() OVER (PARTITION BY d_id
         |                            ORDER BY lev, m_id) AS rk
         |  FROM cand)
         |SELECT d_id, m_id, lev,
         |       CAST(d_id = m_id AS INT) AS correct
         |FROM best WHERE rk = 1 ORDER BY d_id""".stripMargin), headline = true),
    Entry("link_accuracy", accuracyQ, Some(
      s"""WITH $dirtySql,
         |best AS (
         |  SELECT d_id, m_id,
         |         row_number() OVER (PARTITION BY d_id
         |                            ORDER BY lev, m_id) AS rk
         |  FROM cand)
         |SELECT count(*) AS n_matched,
         |       CAST(sum(CAST(d_id = m_id AS INT)) AS BIGINT) AS n_correct,
         |       round(sum(CAST(d_id = m_id AS INT)) * 1.0 / count(*), 4)
         |         AS accuracy
         |FROM best WHERE rk = 1""".stripMargin)),
    Entry("link_jaro_scored", jaroScoredQ, Some(
      """WITH dirty AS (
        |  SELECT c_custkey AS d_id,
        |         concat(substr(c_name, 1,
        |                       CAST(c_custkey % length(c_name) AS INT)),
        |                substr(c_name,
        |                       CAST(c_custkey % length(c_name) AS INT) + 2))
        |           AS d_name,
        |         c_nationkey, c_mktsegment
        |  FROM customer)
        |SELECT d.d_id, c.c_custkey AS m_id,
        |       round(jaro_winkler_similarity(d.d_name, c.c_name), 4) AS jw
        |FROM dirty d JOIN customer c
        |  ON d.c_nationkey = c.c_nationkey
        | AND d.c_mktsegment = c.c_mktsegment
        |WHERE round(jaro_winkler_similarity(d.d_name, c.c_name), 4) >= 0.97
        |ORDER BY d_id, m_id""".stripMargin), headline = true),
    Entry("link_incremental", incrementalQ, Some(
      s"""WITH $dirtySql,
         |best AS (
         |  SELECT d_id, m_id, lev,
         |         row_number() OVER (PARTITION BY d_id
         |                            ORDER BY lev, m_id) AS rk
         |  FROM cand WHERE d_id % 5 = 0)
         |SELECT d_id, m_id, lev,
         |       CAST(d_id = m_id AS INT) AS correct
         |FROM best WHERE rk = 1 ORDER BY d_id""".stripMargin)),
    Entry("link_entity_clusters", entityClustersQ, Some(
      s"""WITH RECURSIVE $dirtySql,
         |jp AS (SELECT d_id AS id_a, m_id AS id_b FROM cand
         |       WHERE d_id <> m_id),
         |sym AS (SELECT id_a, id_b FROM jp
         |        UNION ALL SELECT id_b, id_a FROM jp),
         |nodes AS (SELECT DISTINCT id_a AS id FROM sym),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT s.id_a, r.label FROM sym s JOIN reach r ON s.id_b = r.id),
         |lab AS (SELECT id, min(label) AS entity FROM reach GROUP BY id)
         |SELECT id, entity FROM lab ORDER BY id""".stripMargin), headline = true),
    Entry("link_block_stats", blockStatsQ, Some(
      """SELECT c_nationkey, c_mktsegment,
        |       count(*) AS n_dirty, count(*) AS n_clean,
        |       CAST(count(*) AS BIGINT) * count(*) AS n_candidates
        |FROM customer
        |GROUP BY 1, 2 ORDER BY c_nationkey, c_mktsegment""".stripMargin)),
  )
}
