package graft.quality

import graft.Tables
import graft.Ops.{Entry, Q}
import graft.operators.Cleaning
import graft.sources.Sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality gates: the Spark twin of the reference's runtime checks
  * (`ex06_airflow/dags/full_pipeline_dag.py:59-60,130-181,392-411,504-524`
  * and `src/logging_config.py:118-170`).
  *
  * Pure functions over single-scan aggregates — a gate never costs more
  * than one conditional aggregate over the batch it guards.
  */
object Gates {

  /** Retention thresholds (full_pipeline_dag.py:59-60). */
  val FailBelow = 0.80
  val WarnBelow = 0.90

  /** Status of a retention ratio: FAIL < 0.80 <= WARN < 0.90 <= PASS. */
  def retentionStatus(ratio: Double): String =
    if (ratio < FailBelow) "FAIL" else if (ratio < WarnBelow) "WARN" else "PASS"

  /** Column form for use inside aggregates. */
  def retentionStatusCol(ratio: Column): Column =
    when(ratio < FailBelow, "FAIL").when(ratio < WarnBelow, "WARN").otherwise("PASS")

  /** Row-floor check (staging/fact >= 1000 rows,
    * full_pipeline_dag.py:392-411,504-524). */
  def floorStatus(rows: Long, floor: Long = 1000L): String =
    if (rows >= floor) "PASS" else "FAIL"

  /** Retention gate over a raw frame + keep predicate: single scan,
    * returns (raw_rows, kept_rows, retention, status). */
  def retentionGate(raw: DataFrame, keep: Column): DataFrame =
    Cleaning.retention(raw, keep)
      .withColumn("status", retentionStatusCol(col("retention")))

  /** Row floor gate as a 1-row frame. */
  def floorGate(df: DataFrame, floor: Long = 1000L): DataFrame =
    df.agg(count(lit(1)).as("n_rows"))
      .withColumn("floor", lit(floor))
      .withColumn("status", when(col("n_rows") >= floor, "PASS").otherwise("FAIL"))

  /** SLA status of one task duration: Airflow SLA semantics — a breach is
    * reported, never fatal (`full_pipeline_dag.py:308,363,501,574` attaches
    * SLAs to the reference's 4 heavy tasks). */
  def slaStatus(durationSec: Double, slaSec: Double): String =
    if (durationSec <= slaSec) "OK" else "SLA_MISS"

  /** Wall-clock a stage (an action, a write) for SLA accounting. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Attach ZERO-COST pipeline observability to a frame: `Dataset.observe`
    * computes the named aggregates inside the existing job (no second scan —
    * the accumulator rides the rows already flowing) and exposes them via
    * the completed QueryExecution. The production pattern for "log row
    * counts and null rates of every batch you write" at 100 TB, where a
    * separate metrics query would double the read. Read the result with
    * [[observedMetrics]] after an action has run. */
  def withObservedMetrics(df: DataFrame, name: String, keep: Column): DataFrame =
    df.observe(name,
      count(lit(1)).as("n_rows"),
      sum(when(keep, 1L).otherwise(0L)).as("n_kept"))

  /** Pull one observation's metrics row out of a materialized frame.
    * The action must have run through THIS frame's own execution
    * (`collect`/`toLocalIterator`) — `df.write` and `df.rdd` plan a fresh
    * QueryExecution, so for write jobs read the metrics via a
    * `QueryExecutionListener` (the streaming path delivers them through
    * `StreamingQueryListener` the same way). */
  def observedMetrics(df: DataFrame, name: String): Map[String, Any] = {
    val row = df.queryExecution.observedMetrics(name)
    row.schema.fieldNames.zip(row.toSeq).toMap
  }

  /** SLA report over (task, measured duration, sla) triples. */
  def slaGate(spark: SparkSession, tasks: Seq[(String, Double, Double)]): DataFrame = {
    import spark.implicits._
    tasks.map { case (n, d, s) => (n, d, s, slaStatus(d, s)) }
      .toDF("task", "duration_sec", "sla_sec", "status")
  }

  /** Data-availability short-circuit (the ShortCircuitOperator twin,
    * `full_pipeline_dag.py:101-127,279-283`): probe passes → RUN, else SKIP
    * the month and exit clean. The probe runs once, driver-side (an HTTP
    * HEAD or FS-exists — never a Spark job). The CLI maps SKIP to exit
    * code 2 (`cli/Main.scala`), mirroring `ml_pipeline.py:533-540`. */
  def availabilityGate(spark: SparkSession, feed: String, probe: => Boolean): DataFrame = {
    import spark.implicits._
    val ok = probe
    Seq((feed, ok, if (ok) "RUN" else "SKIP")).toDF("feed", "available", "action")
  }

  /** k-anonymity risk audit over a quasi-identifier tuple: every QI combo
    * shared by fewer than k rows re-identifies its members when joined
    * with an external dataset — the compliance complement of the PII
    * scrub ([[graft.functions.TextOps]]) and GDPR erasure accounting.
    * Reports each risky combo with its member count plus the suppression
    * cost (rows that must be generalized or dropped to reach k). One
    * keyed counting aggregate + a count-filter — QI-combo-sized output,
    * map-side combinable, the same single-shuffle shape at any corpus
    * size. */
  def kAnonymityAudit(df: DataFrame, quasiIds: Seq[String], k: Int): DataFrame = {
    require(quasiIds.nonEmpty && k > 1, s"need QI columns and k > 1")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") < k)
      .withColumn("k", lit(k))
      .withColumn("suppression_cost", col("n_rows"))
  }

  /** K-anonymity ENFORCEMENT planning — the step after the audit: walk a
    * generalization ladder for the numeric quasi-identifier (coarser and
    * coarser buckets) and report, per level, how many QI groups exist, how
    * many still violate k, and how many rows those violations expose; the
    * policy decision is flagged `chosen`: the FINEST level whose residual
    * violations fit inside the suppression budget (`suppressFrac` of the
    * table, default 2%) — generalize as little as possible, suppress the sparse tail.
    * `meets_k` separately marks levels that are clean outright, because a
    * distribution with thin extremes (like account balances) often never
    * reaches zero violations at any useful granularity. The whole ladder
    * costs ONE shuffle: each row explodes into (level, bucketed-QI) pairs
    * and a single level-prefixed aggregation counts every group of every
    * level together — levels × |groups| output, never levels × data
    * passes. */
  def kAnonymizeLadder(df: DataFrame, quasiIds: Seq[String], numCol: String,
                       k: Int, levels: Seq[Long],
                       suppressFrac: Double = 0.02): DataFrame = {
    require(levels.nonEmpty && levels.forall(_ > 0) && k > 1)
    val exploded = df
      .select((quasiIds.map(col) :+ col(numCol)): _*)
      .withColumn("g", explode(array(levels.map(lit(_)): _*)))
      .groupBy((col("g") +: quasiIds.map(col) :+
        floor(col(numCol) / col("g")).as("__bucket")): _*)
      .agg(count(lit(1)).as("__n"))
    val perLevel = exploded.groupBy("g")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L))
          .as("rows_at_risk"))
      .withColumn("meets_k", (col("n_violating") === 0).cast("int"))
    // budget + `chosen`: min over the levels-sized frame (a handful of
    // rows by construction); total row count broadcast onto it
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    perLevel
      .crossJoin(broadcast(df.agg(count(lit(1)).as("__total"))))
      .withColumn("budget", ceil(col("__total") * suppressFrac))
      .withColumn("fits", (col("rows_at_risk") <= col("budget")).cast("int"))
      .withColumn("chosen",
        (col("fits") === 1 &&
          col("g") === min(when(col("fits") === 1, col("g"))).over(w))
          .cast("int"))
      .select("g", "n_groups", "n_violating", "rows_at_risk", "budget",
        "meets_k", "chosen")
      .orderBy("g")
  }

  /** l-diversity risk audit — the follow-up attack k-anonymity misses: a
    * QI group can hold k rows and STILL leak if all k share one sensitive
    * value (the homogeneity attack — "everyone in that zip+age bucket has
    * the same diagnosis"). Flags every QI combo whose sensitive column
    * carries fewer than l distinct values, with the group size and the
    * observed diversity. Distinct-count per group is one shuffle on the QI
    * key with map-side partial distinct — same scale shape as
    * [[kAnonymityAudit]]; output is QI-combo-sized. */
  def lDiversityAudit(df: DataFrame, quasiIds: Seq[String],
                      sensitive: String, l: Int): DataFrame = {
    require(quasiIds.nonEmpty && l > 1, s"need QI columns and l > 1")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(sensitive)).as("n_sensitive"))
      .filter(col("n_sensitive") < l)
      .withColumn("l", lit(l))
  }

  /** t-closeness risk audit — the distributional attack l-diversity misses:
    * a QI group can carry l distinct sensitive values and STILL leak if its
    * sensitive-value MIX diverges from the corpus (e.g. a bucket that is 90%
    * one diagnosis when the corpus is 20% tells an attacker the likely value
    * even though others appear). Flags every QI combo whose total-variation
    * distance from the global sensitive distribution exceeds `t`.
    *
    * The TVD is computed in INTEGER arithmetic with one final division —
    * `0.5 * (Σ_v∈g |n_vg·N − n_v·n_g| + (N·n_g − Σ_v∈g n_v·n_g)) / (n_g·N)`
    * where the second term folds every sensitive value ABSENT from the
    * group (there p=0, so |p−q| collapses to q) without materializing the
    * group×domain cross product. Integer numerators make the result
    * bit-identical across engines and summation orders; products stay under
    * Long range up to N·n_g ≈ 9e18 (a 1e10-row corpus with 1e8-row groups).
    * Shape at scale: one (QI, sensitive) counting shuffle, a QI-partitioned
    * window for group totals, and two broadcast joins (sensitive domain +
    * the 1-row corpus count) — output is QI-combo-sized. */
  def tClosenessAudit(df: DataFrame, quasiIds: Seq[String],
                      sensitive: String, t: Double): DataFrame = {
    require(quasiIds.nonEmpty && t > 0 && t < 1, "need QI columns and 0 < t < 1")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val base = df.select((quasiIds :+ sensitive).map(col): _*)
    val total = base.agg(count(lit(1)).as("__N"))
    val domain = base.groupBy(col(sensitive)).agg(count(lit(1)).as("__nv"))
    val grp = base.groupBy((quasiIds :+ sensitive).map(col): _*)
      .agg(count(lit(1)).as("__nvg"))
      .withColumn("__ng",
        sum(col("__nvg")).over(Window.partitionBy(quasiIds.map(col): _*)))
    grp.join(broadcast(domain), sensitive)
      .crossJoin(broadcast(total))
      .groupBy(quasiIds.map(col): _*)
      .agg(
        max(col("__ng")).as("n_rows"),
        max(col("__N")).as("__n"),
        sum(abs(col("__nvg") * col("__N") - col("__nv") * col("__ng")))
          .as("__present"),
        sum(col("__nv") * col("__ng")).as("__covered"))
      .select(quasiIds.map(col) ++ Seq(
        col("n_rows"),
        round((lit(0.5) * (col("__present") +
          (col("__n") * col("n_rows") - col("__covered"))).cast(DoubleType) /
          (col("n_rows") * col("__n")).cast(DoubleType)), 6).as("tvd")): _*)
      .filter(col("tvd") > t)
      .withColumn("t", lit(t))
  }

  /** GDPR erasure (right-to-be-forgotten) audit: given a subject set, the
    * per-table accounting a compliance sweep must produce — how many rows
    * each table holds, how many link to erased subjects (directly or via
    * the FK cascade), how many survive the scrub, and the RESIDUAL count
    * re-measured on the scrubbed frame (must be 0; measured, not assumed —
    * an erasure report that derives residual=after−linked arithmetically
    * would hide a cascade bug). Each table costs one left-join counting
    * pass plus one anti-join + re-probe; all joins are subject-/FK-keyed,
    * the shape that holds when the subject set no longer broadcasts. */
  def erasureAudit(tableName: String, df: DataFrame, keyCol: String,
                   erasedKeys: DataFrame): DataFrame = {
    // each probe gets a freshly-aliased copy of the subject set: the
    // scrubbed frame already carries the subject lineage (the anti join),
    // so re-probing with the SAME attributes would be a self-join Spark
    // rightly rejects as ambiguous
    def probe(n: String) = erasedKeys.toDF(n)
    val before = df.join(probe("__ek1"), df(keyCol) === col("__ek1"), "left_outer")
      .agg(count(lit(1)).as("rows_before"), count(col("__ek1")).as("rows_erased"))
    val scrubbed = df.join(probe("__ek2"), df(keyCol) === col("__ek2"), "left_anti")
    val after = scrubbed
      .join(probe("__ek3"), col(keyCol) === col("__ek3"), "left_outer")
      .agg(count(lit(1)).as("rows_after"), count(col("__ek3")).as("residual"))
    before.crossJoin(after)
      .select(lit(tableName).as("table_name"), col("rows_before"),
        col("rows_erased"), col("rows_after"), col("residual"))
  }

  // ---------------------------------------------------------------- entries

  /** The ingest retention gate applied to the events feed with the
    * reference's cleaning predicate shape (value sane + ids present). */
  private val retentionGateQ: Q = (s, dir) =>
    retentionGate(Tables(s, dir).events,
      col("value").isNotNull && col("value") >= 0 && col("user_id").isNotNull)

  private val floorGateQ: Q = (s, dir) => floorGate(Tables(s, dir).events)

  /** Both gate outcomes in one frame: the present feed probes RUN, the
    * absent one probes SKIP. */
  private val availabilityGateQ: Q = (s, dir) =>
    availabilityGate(s, "events", Sources.pathExists(s, s"$dir/events.parquet"))
      .unionAll(availabilityGate(s, "missing_feed",
        Sources.pathExists(s, s"$dir/__no_such_feed__.parquet")))
      .orderBy("feed")

  /** Two genuinely timed stages under generous SLAs (deterministically OK)
    * plus one synthetic breach; only the deterministic (task, status)
    * columns are graded — durations vary run to run. */
  private val slaGateQ: Q = (s, dir) => {
    val (_, dScan) = timed(Tables(s, dir).events.agg(count(lit(1))).head())
    val (_, dDim) = timed(
      Tables(s, dir).orders.select(to_date(col("o_orderdate"))).distinct().count())
    slaGate(s, Seq(
      ("events_scan", dScan, 300.0),
      ("dim_date_build", dDim, 300.0),
      ("synthetic_breach", 2.5, 1.0)))
      .select("task", "status").orderBy("task")
  }

  /** QI tuple = (nation, segment, coarse balance bucket) — the classic
    * "zip + gender + birth-date" shape at table scale. */
  private val kAnonymityQ: Q = (s, dir) =>
    kAnonymityAudit(
      Tables(s, dir).customer.withColumn("balance_bucket",
        floor(col("c_acctbal") / 2000).cast(org.apache.spark.sql.types.LongType)),
      Seq("c_nationkey", "c_mktsegment", "balance_bucket"), k = 5)
      .orderBy("c_nationkey", "c_mktsegment", "balance_bucket")

  private val kAnonymizeQ: Q = (s, dir) =>
    kAnonymizeLadder(Tables(s, dir).customer,
      Seq("c_nationkey"), "c_acctbal", k = 5,
      levels = Seq(250L, 500L, 1000L, 2000L, 4000L, 8000L))

  /** QI tuple = (nation, coarse balance bucket); sensitive = market
    * segment. A bucket whose members all shop one segment leaks the
    * segment of anyone whose nation+balance is known. */
  private val lDiversityQ: Q = (s, dir) =>
    lDiversityAudit(
      Tables(s, dir).customer.withColumn("balance_bucket",
        floor(col("c_acctbal") / 2000).cast(org.apache.spark.sql.types.LongType)),
      Seq("c_nationkey", "balance_bucket"), sensitive = "c_mktsegment", l = 3)
      .orderBy("c_nationkey", "balance_bucket")

  /** QI tuple = (nation, coarse balance bucket); sensitive = market
    * segment; t = 0.4 — flags buckets whose segment mix sits more than
    * 0.4 total-variation away from the corpus mix. */
  private val tClosenessQ: Q = (s, dir) =>
    tClosenessAudit(
      Tables(s, dir).customer.withColumn("balance_bucket",
        floor(col("c_acctbal") / 2000).cast(org.apache.spark.sql.types.LongType)),
      Seq("c_nationkey", "balance_bucket"), sensitive = "c_mktsegment", t = 0.4)
      .orderBy("c_nationkey", "balance_bucket")

  /** Deterministic subject set (custkey % 17 = 0) cascaded through the
    * star: customer directly, orders via o_custkey, lineitem via the
    * two-hop orderkey FK. */
  private val erasureQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val erased = t.customer.filter(col("c_custkey") % 17 === 0)
      .select(col("c_custkey").as("erased_key"))
    val erasedOrders = t.orders
      .join(erased, t.orders("o_custkey") === erased("erased_key"), "left_semi")
      .select(col("o_orderkey").as("erased_key"))
    erasureAudit("customer", t.customer, "c_custkey", erased)
      .unionAll(erasureAudit("lineitem", t.lineitem, "l_orderkey", erasedOrders))
      .unionAll(erasureAudit("orders", t.orders, "o_custkey", erased))
      .orderBy("table_name")
  }

  /** ε-differentially-private count release (Laplace mechanism) with
    * ENGINE-REPLAYABLE noise: the Laplace draw is derived from the
    * md5-uniform of the group key + a release tag (the r3_stratified_hash
    * convention — power-of-two modulus so DuckDB's unsigned
    * `md5_number_upper` and Spark's signed pmod agree), then inverse-CDF
    * transformed: noise = −(Δf/ε)·sign(u−½)·ln(1−2|u−½|). Deterministic
    * noise keyed on (group, release-tag) is exactly how a production DP
    * release makes repeated queries return the SAME answer instead of
    * averaging the noise away — re-randomizing per query leaks ε per
    * call. ln() agrees across engines to ulps; the released value is
    * rounded to 4 decimals so the hash compare is stable. `n_true` is the
    * grading-harness column (a real release emits only `n_released`;
    * sensitivity Δf = 1 for counts, ε = 0.5 here). CAVEAT (ADVICE r10):
    * grading requires a PUBLIC seed, so here the PRF is keyed on public
    * values and anyone can replay the draw and subtract the noise — a
    * real release derives the draw from a SECRET key, or the ε-DP
    * guarantee is formally void; this form is the replayability harness
    * only. */
  private val dpNoisedCountsQ: Q = (s, dir) => {
    val eps = 0.5
    val draw = pmod(
      graft.functions.TextOps.md5Hash64Hof(
        concat(col("o_orderpriority"), lit(":dp-release-1"))),
      lit(1048576L))
    val u = (draw.cast("double") + lit(0.5)) / lit(1048576.0)
    val v = u - lit(0.5)
    val noise = lit(-1.0 / eps) * signum(v) * log(lit(1.0) - lit(2.0) * abs(v))
    Tables(s, dir).orders
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_true"))
      .select(col("o_orderpriority"), col("n_true"),
        round(col("n_true") + noise, 4).as("n_released"))
      .orderBy("o_orderpriority")
  }

  /** ε-DP MEAN release with clipping — the other half of the Laplace
    * mechanism that [[dpNoisedCountsQ]] doesn't exercise: values are
    * clipped to a public bound [0, hi] so the mean's sensitivity is
    * hi/n, and the noise scale b = hi/(n·ε) is computed per group from
    * its own n. Same engine-replayable md5-inverse-CDF draw (keyed on
    * the group + a distinct release tag), decimal-exact clipped sums,
    * release rounded to 6dp. `mean_true` is the grading-harness column. */
  private val dpNoisedMeanQ: Q = (s, dir) => {
    val eps = 0.5
    val hi = 400.0
    val draw = pmod(
      graft.functions.TextOps.md5Hash64Hof(
        concat(col("o_orderpriority"), lit(":dp-release-2"))),
      lit(1048576L))
    val u = (draw.cast("double") + lit(0.5)) / lit(1048576.0)
    val v = u - lit(0.5)
    val lap = signum(v) * log(lit(1.0) - lit(2.0) * abs(v))
    val clipped = least(greatest(col("o_totalprice"), lit(0.0)), lit(hi))
    Tables(s, dir).orders
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        (sum(clipped.cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double") / count(lit(1))).as("mean_true"))
      .select(col("o_orderpriority"), col("n"),
        round(col("mean_true"), 6).as("mean_true"),
        round(col("mean_true")
          + lit(-hi / eps) / col("n") * lap, 6).as("mean_released"))
      .orderBy("o_orderpriority")
  }

  val entries: Seq[Entry] = Seq(
    // the md5-uniform draw replays exactly (power-of-two modulus); the
    // Laplace inverse-CDF ln() agrees to ulps and the release rounds to 4dp
    Entry("q_dp_noised_counts", dpNoisedCountsQ, Some(
      """WITH t AS (
        |  SELECT o_orderpriority, count(*) AS n_true,
        |         (CAST(md5_number_upper(o_orderpriority || ':dp-release-1')
        |               % 1048576 AS DOUBLE) + 0.5) / 1048576.0 AS u
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, n_true,
        |       round(n_true + (-1.0 / 0.5) * sign(u - 0.5)
        |                      * ln(1 - 2 * abs(u - 0.5)), 4) AS n_released
        |FROM t ORDER BY o_orderpriority""".stripMargin), headline = true),
    Entry("q_dp_noised_mean", dpNoisedMeanQ, Some(
      """WITH t AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |         CAST(sum(CAST(least(greatest(o_totalprice, 0), 400)
        |                       AS DECIMAL(18,2))) AS DOUBLE)
        |           / count(*) AS mean_raw,
        |         (CAST(md5_number_upper(o_orderpriority || ':dp-release-2')
        |               % 1048576 AS DOUBLE) + 0.5) / 1048576.0 AS u
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, n, round(mean_raw, 6) AS mean_true,
        |       round(mean_raw + (-400.0 / 0.5) / n * sign(u - 0.5)
        |                        * ln(1 - 2 * abs(u - 0.5)), 6)
        |         AS mean_released
        |FROM t ORDER BY o_orderpriority""".stripMargin)),
    Entry("q_k_anonymize_ladder", kAnonymizeQ, Some(
      """WITH lv(g) AS (VALUES (250), (500), (1000), (2000), (4000), (8000)),
        |grp AS (
        |  SELECT g, c_nationkey,
        |         floor(c_acctbal / g) AS b, count(*) AS n
        |  FROM customer, lv GROUP BY 1, 2, 3),
        |lvl AS (
        |  SELECT g, count(*) AS n_groups,
        |         CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_violating,
        |         CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |           AS rows_at_risk
        |  FROM grp GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM customer),
        |m AS (
        |  SELECT lvl.*, CAST(ceil(total * 0.02) AS BIGINT) AS budget,
        |         CAST(n_violating = 0 AS INT) AS meets_k,
        |         CAST(rows_at_risk <= ceil(total * 0.02) AS INT) AS fits
        |  FROM lvl, t)
        |SELECT CAST(g AS BIGINT) AS g, n_groups, n_violating, rows_at_risk,
        |       budget, meets_k,
        |       CAST(fits = 1 AND
        |            g = min(CASE WHEN fits = 1 THEN g END) OVER ()
        |            AS INT) AS chosen
        |FROM m ORDER BY g""".stripMargin)),
    Entry("q_k_anonymity", kAnonymityQ, Some(
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(floor(c_acctbal / 2000) AS BIGINT) AS balance_bucket,
        |       count(*) AS n_rows, CAST(5 AS INT) AS k,
        |       count(*) AS suppression_cost
        |FROM customer
        |GROUP BY 1, 2, 3 HAVING count(*) < 5
        |ORDER BY c_nationkey, c_mktsegment, balance_bucket""".stripMargin), headline = true),
    Entry("q_l_diversity", lDiversityQ, Some(
      """SELECT c_nationkey,
        |       CAST(floor(c_acctbal / 2000) AS BIGINT) AS balance_bucket,
        |       count(*) AS n_rows,
        |       count(DISTINCT c_mktsegment) AS n_sensitive,
        |       CAST(3 AS INT) AS l
        |FROM customer
        |GROUP BY 1, 2 HAVING count(DISTINCT c_mktsegment) < 3
        |ORDER BY c_nationkey, balance_bucket""".stripMargin), headline = true),
    // residual is measured on the scrubbed set (always 0 when the cascade
    // is correct), not derived arithmetically
    Entry("q_erasure_audit", erasureQ, Some(
      """WITH er AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 17 = 0),
        |eo AS (
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE o_custkey IN (SELECT k FROM er)),
        |c AS (
        |  SELECT 'customer' AS table_name, count(*) AS rows_before,
        |         CAST(sum(CASE WHEN c_custkey IN (SELECT k FROM er)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
        |  FROM customer),
        |o AS (
        |  SELECT 'orders' AS table_name, count(*) AS rows_before,
        |         CAST(sum(CASE WHEN o_custkey IN (SELECT k FROM er)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
        |  FROM orders),
        |l AS (
        |  SELECT 'lineitem' AS table_name, count(*) AS rows_before,
        |         CAST(sum(CASE WHEN l_orderkey IN (SELECT k FROM eo)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
        |  FROM lineitem),
        |u AS (
        |  SELECT * FROM c UNION ALL SELECT * FROM l UNION ALL
        |  SELECT * FROM o)
        |SELECT table_name, rows_before, rows_erased,
        |       rows_before - rows_erased AS rows_after,
        |       CAST(0 AS BIGINT) AS residual
        |FROM u ORDER BY table_name""".stripMargin), headline = true),
    // integer-exact TVD: one division at the end, so both engines agree
    // bit-for-bit before the round
    Entry("q_t_closeness", tClosenessQ, Some(
      """WITH base AS (
        |  SELECT c_nationkey,
        |         CAST(floor(c_acctbal / 2000) AS BIGINT) AS balance_bucket,
        |         c_mktsegment
        |  FROM customer),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |dom AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS nv
        |  FROM base GROUP BY 1),
        |grp AS (
        |  SELECT c_nationkey, balance_bucket, c_mktsegment,
        |         CAST(count(*) AS BIGINT) AS nvg
        |  FROM base GROUP BY 1, 2, 3),
        |gt AS (
        |  SELECT *, CAST(sum(nvg) OVER (PARTITION BY c_nationkey,
        |                                 balance_bucket) AS BIGINT) AS ng
        |  FROM grp),
        |agg AS (
        |  SELECT c_nationkey, balance_bucket,
        |         max(ng) AS n_rows, max(n) AS n,
        |         CAST(sum(abs(nvg * n - nv * ng)) AS BIGINT) AS present,
        |         CAST(sum(nv * ng) AS BIGINT) AS covered
        |  FROM gt JOIN dom USING (c_mktsegment) CROSS JOIN tot
        |  GROUP BY 1, 2)
        |SELECT c_nationkey, balance_bucket, n_rows,
        |       round(0.5 * CAST(present + (n * n_rows - covered) AS DOUBLE)
        |             / CAST(n_rows * n AS DOUBLE), 6) AS tvd,
        |       CAST(0.4 AS DOUBLE) AS t
        |FROM agg
        |WHERE round(0.5 * CAST(present + (n * n_rows - covered) AS DOUBLE)
        |            / CAST(n_rows * n AS DOUBLE), 6) > 0.4
        |ORDER BY c_nationkey, balance_bucket""".stripMargin), headline = true),
    Entry("q_sla_gate", slaGateQ, Some(
      """SELECT * FROM (VALUES
        |  ('dim_date_build', 'OK'), ('events_scan', 'OK'),
        |  ('synthetic_breach', 'SLA_MISS'))
        |  AS t(task, status)
        |ORDER BY task""".stripMargin)),
    Entry("q_availability_gate", availabilityGateQ, Some(
      """SELECT * FROM (VALUES
        |  ('events', true, 'RUN'), ('missing_feed', false, 'SKIP'))
        |  AS t(feed, available, action)
        |ORDER BY feed""".stripMargin)),
    Entry("q_retention_gate", retentionGateQ, Some(
      """WITH a AS (
        |  SELECT count(*) AS raw_rows,
        |         CAST(sum(CASE WHEN value IS NOT NULL AND value >= 0
        |                        AND user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept_rows
        |  FROM events)
        |SELECT raw_rows, kept_rows,
        |       round(kept_rows * 1.0 / raw_rows, 6) AS retention,
        |       CASE WHEN kept_rows * 1.0 / raw_rows < 0.80 THEN 'FAIL'
        |            WHEN kept_rows * 1.0 / raw_rows < 0.90 THEN 'WARN'
        |            ELSE 'PASS' END AS status
        |FROM a""".stripMargin)),
    Entry("q_floor_gate", floorGateQ, Some(
      """SELECT count(*) AS n_rows, CAST(1000 AS BIGINT) AS floor,
        |       CASE WHEN count(*) >= 1000 THEN 'PASS' ELSE 'FAIL' END AS status
        |FROM events""".stripMargin)),
  )
}
