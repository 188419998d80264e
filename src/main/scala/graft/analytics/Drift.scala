package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Ops.{Entry, Q, pct}
import graft.Tables

/** Distribution-drift detection — the monitoring layer a training pipeline
  * runs between a reference window and the current window before trusting
  * new data (the role the reference delegates to eyeballing dashboard
  * charts, `ex04_dashboard/streamlit_app/app.py:239-320`, made a measured
  * gate instead). Three standard detectors: PSI over reference-quantile
  * bins (the model-monitoring industry default), a grid-quantized
  * two-sample Kolmogorov–Smirnov statistic, and a chi-squared test on a
  * categorical mix. Together with [[RobustStats]] they make the
  * profile→gate→alert loop fully in-engine.
  *
  * Determinism discipline: bin anchors are exact interpolated percentiles
  * rounded to 6 BEFORE assignment (the [[RobustStats]] contract);
  * proportions are exact count ratios (identical doubles in any engine);
  * every `ln` term rounds to 6 before a DECIMAL sum (the `text_source_kl`
  * contract — ulp differences between libm and StrictMath vanish under the
  * rounding); chi-squared is pure rational arithmetic rounded once.
  *
  * Scale shape: each detector is two passes — one aggregate for anchors /
  * totals (broadcast back as a single row), one map-side-combinable keyed
  * aggregate of bin/category counts. No windows over the fact table, no
  * global sort: the KS cumulative runs over the k-row bin frame, never the
  * data. 100 TB flows through two hash shuffles of k-row results.
  */
object Drift {

  /** Population Stability Index between the `refPred` rows (reference
    * window) and the rest (current window), over `bins` equi-depth bins of
    * the REFERENCE distribution — so a shifted current window shows up as
    * mass leaving reference deciles. Proportions are clipped at 1e-6
    * (standard PSI practice: an emptied bin contributes a large finite
    * term, not infinity). Returns one row per bin with both proportions
    * and the PSI term; Σ psi_term is the headline index (> 0.2 = major
    * shift, the industry rule of thumb). */
  def psi(df: DataFrame, valCol: String, refPred: Column,
          bins: Int = 10): DataFrame = {
    val x = col(valCol)
    val ref = df.filter(refPred)
    val anchors = ref.agg(
      (1 until bins).map(i =>
        round(pct(x, i.toDouble / bins), 6).as(s"a$i")).head,
      (1 until bins).map(i =>
        round(pct(x, i.toDouble / bins), 6).as(s"a$i")).tail: _*)
    val binExpr = (1 until bins)
      .map(i => when(x > col(s"a$i"), 1).otherwise(0))
      .reduce(_ + _).as("bin")
    val eps = lit(1e-6)
    df.select(x, refPred.as("__is_ref")).crossJoin(broadcast(anchors))
      .select(binExpr, col("__is_ref"))
      .groupBy("bin")
      .agg(sum(when(col("__is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__is_ref"), 0L).otherwise(1L)).as("n_cur"))
      .crossJoin(broadcast(df.agg(
        sum(when(refPred, 1L).otherwise(0L)).as("__tr"),
        sum(when(refPred, 0L).otherwise(1L)).as("__tc"))))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        greatest(col("n_ref").cast(DoubleType) / col("__tr"), eps).as("__pr"),
        greatest(col("n_cur").cast(DoubleType) / col("__tc"), eps).as("__pc"))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(col("__pr"), 6).as("p_ref"), round(col("__pc"), 6).as("p_cur"),
        round((col("__pc") - col("__pr")) * log(col("__pc") / col("__pr")), 6)
          .as("psi_term"))
      .orderBy("bin")
  }

  /** Covariate-shift importance weights by binned density ratio: the
    * reference (target) distribution's decile anchors bin BOTH windows, and
    * each bin's weight `p_ref / p_cur` is what a row of the current
    * (source) window must be multiplied by so weighted source aggregates
    * estimate target expectations — the standard correction when serving
    * data drifts from the training distribution but labels only exist on
    * the source side. Same two-pass shape as [[psi]] (anchor quantiles,
    * then one counting aggregate); the weight table is bins-sized metadata
    * a scoring job broadcasts. The epsilon floor caps a weight at 1e6
    * rather than dividing by an empty bin. */
  def importanceWeights(df: DataFrame, valCol: String, refPred: Column,
                        bins: Int = 10): DataFrame = {
    val x = col(valCol)
    val ref = df.filter(refPred)
    val anchors = ref.agg(
      (1 until bins).map(i =>
        round(pct(x, i.toDouble / bins), 6).as(s"a$i")).head,
      (1 until bins).map(i =>
        round(pct(x, i.toDouble / bins), 6).as(s"a$i")).tail: _*)
    val binExpr = (1 until bins)
      .map(i => when(x > col(s"a$i"), 1).otherwise(0))
      .reduce(_ + _).as("bin")
    val eps = lit(1e-6)
    df.select(x, refPred.as("__is_ref")).crossJoin(broadcast(anchors))
      .select(binExpr, col("__is_ref"))
      .groupBy("bin")
      .agg(sum(when(col("__is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__is_ref"), 0L).otherwise(1L)).as("n_cur"))
      .crossJoin(broadcast(df.agg(
        sum(when(refPred, 1L).otherwise(0L)).as("__tr"),
        sum(when(refPred, 0L).otherwise(1L)).as("__tc"))))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        greatest(col("n_ref").cast(DoubleType) / col("__tr"), eps).as("__pr"),
        greatest(col("n_cur").cast(DoubleType) / col("__tc"), eps).as("__pc"))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(col("__pr") / col("__pc"), 6).as("weight"))
      .orderBy("bin")
  }

  /** Grid-quantized two-sample Kolmogorov–Smirnov statistic: both samples
    * are histogrammed onto `grid` equal-width bins between the pooled
    * min/max (anchors rounded to 6), the two ECDFs accumulate over the
    * GRID rows (never the data), and the statistic is the max absolute
    * ECDF gap with the bin where it occurs. Quantization makes the
    * statistic a lower bound of the exact KS within 1/grid — the standard
    * streaming/distributed trade — and keeps the cumulative pass on a
    * k-row frame instead of a global data sort. */
  def ksDrift(df: DataFrame, valCol: String, refPred: Column,
              grid: Int = 256): DataFrame = {
    val x = col(valCol)
    val b = df.agg(round(min(x), 6).as("lo"), round(max(x), 6).as("hi"))
    val binned = df.select(x, refPred.as("__is_ref"))
      .crossJoin(broadcast(b))
      .select(least(floor((x - col("lo")) / ((col("hi") - col("lo")) / grid))
        .cast("int"), lit(grid - 1)).as("bin"), col("__is_ref"))
      .groupBy("bin")
      .agg(sum(when(col("__is_ref"), 1L).otherwise(0L)).as("nr"),
        sum(when(col("__is_ref"), 0L).otherwise(1L)).as("nc"))
    // the cumulative AND total windows run over <= grid rows — a
    // driver-sized frame, single partition by construction and bounded by
    // the grid parameter. Totals as a whole-frame window rather than a
    // broadcast self-aggregate: the latter re-ran the data-sized bin
    // aggregation for a 1-row frame (3 passes over the input; 2 now —
    // the bounds aggregate is inherently a separate first pass).
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ecdf = binned
      .select(col("bin"),
        (sum(col("nr")).over(w) / sum(col("nr")).over(wAll)).as("er"),
        (sum(col("nc")).over(w) / sum(col("nc")).over(wAll)).as("ec"))
      .select(col("bin"), round(abs(col("er") - col("ec")), 6).as("gap"))
    ecdf.orderBy(desc("gap"), asc("bin")).limit(1)
      .select(col("gap").as("ks_stat"), col("bin").as("at_bin"))
  }

  /** Chi-squared homogeneity statistic over a categorical column between
    * the reference and current windows: per category, observed counts in
    * each window vs the expected split under the pooled distribution —
    * Σ (o-e)²/e, in exact rational arithmetic rounded once per term.
    * Per-category rows expose WHICH category moved; Σ chi2_term against a
    * χ² table (df = categories-1) is the gate. */
  def chi2Drift(df: DataFrame, catCol: String, refPred: Column): DataFrame = {
    val counts = df.groupBy(col(catCol).as("category"))
      .agg(sum(when(refPred, 1L).otherwise(0L)).as("n_ref"),
        sum(when(refPred, 0L).otherwise(1L)).as("n_cur"))
    counts
      .crossJoin(broadcast(counts.agg(
        sum("n_ref").as("tr"), sum("n_cur").as("tc"))))
      .select(col("category"), col("n_ref"), col("n_cur"),
        ((col("n_ref") + col("n_cur")) * col("tr") /
          (col("tr") + col("tc"))).as("__er"),
        ((col("n_ref") + col("n_cur")) * col("tc") /
          (col("tr") + col("tc"))).as("__ec"))
      .select(col("category"), col("n_ref"), col("n_cur"),
        round(col("__er"), 6).as("exp_ref"),
        round(col("__ec"), 6).as("exp_cur"),
        round((col("n_ref") - col("__er")) * (col("n_ref") - col("__er"))
          / col("__er") +
          (col("n_cur") - col("__ec")) * (col("n_cur") - col("__ec"))
            / col("__ec"), 6).as("chi2_term"))
      .orderBy("category")
  }

  /** Two-proportion z-test between deterministic experiment arms — the
    * experimentation readout every product analytics layer runs on top of
    * the event feed. Arm assignment is a pure function of the unit key
    * (`user_id % 2`, the hash-bucket assignment of a real experiment
    * platform); exposure and conversion collapse to per-user flags in ONE
    * user-keyed aggregate (the only fact-sized shuffle), and the z
    * statistic is closed-form over four integers:
    * `z = (p_b − p_a) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))` with the pooled p̂ —
    * fixed-order arithmetic both engines evaluate identically, rounded
    * once. Output is a single decision row. */
  def abTest(events: DataFrame, userCol: String, typeCol: String,
             exposureType: String, conversionType: String,
             zCritical: Double = 1.96): DataFrame = {
    val perUser = events.groupBy(col(userCol).as("uid"))
      .agg(max(when(col(typeCol) === exposureType, 1L).otherwise(0L))
        .as("__exposed"),
        max(when(col(typeCol) === conversionType, 1L).otherwise(0L))
          .as("__conv"))
      .filter(col("__exposed") === 1L)
      .select((col("uid") % 2).as("__arm"), col("__conv"))
    val agg = perUser.agg(
      sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__arm") === 0, col("__conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("__arm") === 1, col("__conv")).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast(DoubleType) / col("n_a")
    val pb = col("conv_b").cast(DoubleType) / col("n_b")
    val pooled = (col("conv_a") + col("conv_b")).cast(DoubleType) /
      (col("n_a") + col("n_b"))
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val z = when(se > 0, round((pb - pa) / se, 4))
    agg.select(col("n_a"), col("conv_a"), round(pa, 6).as("rate_a"),
      col("n_b"), col("conv_b"), round(pb, 6).as("rate_b"),
      z.as("z_stat"),
      coalesce(abs(z) > zCritical, lit(false)).as("significant"))
  }

  /** Model-calibration (reliability) bins over a deterministic score: the
    * monitoring table behind a calibration curve — per fixed-width score
    * bin, the mean predicted probability vs the observed outcome rate.
    * The score here is a pinned logistic link over fact columns (a stand-in
    * for any served model's output column; seeded-GBT outputs are not
    * engine-reproducible, per SURVEY §7.5 — the BINNING infrastructure is
    * what this grades). Per-row score rounds to 6 before anything
    * aggregates, so cross-engine `exp` ulp noise is quantized away; bin
    * membership derives from the rounded score. One fact-sized keyed
    * aggregate; output is bins-sized. */
  def calibrationBins(df: DataFrame, score: Column, outcome: Column,
                      bins: Int = 10): DataFrame = {
    val s = round(score, 6)
    df.select(s.as("__s"), outcome.cast("int").as("__y"))
      .groupBy(least(floor(col("__s") * bins).cast("int"), lit(bins - 1))
        .as("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__s")), 6).as("mean_score"),
        round(avg(col("__y").cast(DoubleType)), 6).as("outcome_rate"))
      .orderBy("bin")
  }

  // ---------------------------------------------------------------- entries

  /** Window split shared by all three graded entries: reference = orders
    * (or events) before the fixed boundary, current = the rest. */
  private val boundary = "1998-01-01"

  private val psiQ: Q = (s, dir) =>
    psi(Tables(s, dir).orders, "o_totalprice",
      col("o_orderdate") < lit(boundary).cast("timestamp"))

  private val ksQ: Q = (s, dir) =>
    ksDrift(Tables(s, dir).orders, "o_totalprice",
      col("o_orderdate") < lit(boundary).cast("timestamp"))

  private val chi2Q: Q = (s, dir) =>
    chi2Drift(Tables(s, dir).events, "event_type",
      dayofmonth(col("ts")) <= 15)

  private val abTestQ: Q = (s, dir) =>
    abTest(Tables(s, dir).events, "user_id", "event_type",
      exposureType = "view", conversionType = "purchase")

  /** Pinned logistic link over lineitem columns: spreads scores across
    * ~[0.13, 0.88] so every decile bin is populated at sf0.01. */
  private val calibrationQ: Q = (s, dir) =>
    calibrationBins(Tables(s, dir).lineitem,
      score = lit(1.0) / (lit(1.0) + exp(-(lit(-2.0)
        + lit(0.06) * col("l_quantity") + lit(10.0) * col("l_discount")))),
      outcome = col("l_returnflag") === "R")

  private val weightsQ: Q = (s, dir) =>
    importanceWeights(Tables(s, dir).orders, "o_totalprice",
      col("o_orderdate") < lit(boundary).cast("timestamp"))

  val entries: Seq[Entry] = Seq(
    Entry("a45_ab_test", abTestQ, Some(
      """WITH pu AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |           AS exposed,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS conv
        |  FROM events GROUP BY 1),
        |arms AS (
        |  SELECT user_id % 2 AS arm, conv FROM pu WHERE exposed = 1),
        |a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_b
        |  FROM arms),
        |z AS (
        |  SELECT n_a, conv_a, n_b, conv_b,
        |         CAST(conv_a AS DOUBLE) / n_a AS pa,
        |         CAST(conv_b AS DOUBLE) / n_b AS pb,
        |         CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p
        |  FROM a),
        |z2 AS (
        |  SELECT *, sqrt(p * (CAST(1 AS DOUBLE) - p)
        |                  * (CAST(1 AS DOUBLE) / n_a
        |                     + CAST(1 AS DOUBLE) / n_b)) AS se
        |  FROM z)
        |SELECT n_a, conv_a, round(pa, 6) AS rate_a,
        |       n_b, conv_b, round(pb, 6) AS rate_b,
        |       CASE WHEN se > 0 THEN round((pb - pa) / se, 4) END AS z_stat,
        |       coalesce(CASE WHEN se > 0
        |                     THEN abs(round((pb - pa) / se, 4)) > 1.96 END,
        |                false) AS significant
        |FROM z2""".stripMargin), headline = true),
    // per-row score rounds to 6 BEFORE binning/averaging, so cross-engine
    // exp() ulp noise is quantized away
    Entry("a46_calibration_bins", calibrationQ, Some(
      """WITH s AS (
        |  SELECT round(CAST(1 AS DOUBLE)
        |               / (CAST(1 AS DOUBLE)
        |                  + exp(-(CAST(-2.0 AS DOUBLE)
        |                          + CAST(0.06 AS DOUBLE) * l_quantity
        |                          + CAST(10.0 AS DOUBLE) * l_discount))), 6)
        |           AS sc,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem)
        |SELECT least(CAST(floor(sc * 10) AS INT), 9) AS bin,
        |       count(*) AS n,
        |       round(avg(sc), 6) AS mean_score,
        |       round(avg(CAST(y AS DOUBLE)), 6) AS outcome_rate
        |FROM s GROUP BY 1 ORDER BY bin""".stripMargin), headline = true),
    Entry("a49_importance_weights", weightsQ, Some {
      val bins = 10
      val qs = (1 until bins).map(i =>
        s"round(quantile_cont(o_totalprice, ${i.toDouble / bins}), 6) AS a$i")
        .mkString(",\n         ")
      val binExpr = (1 until bins)
        .map(i => s"(CASE WHEN o_totalprice > a$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH anch AS (
         |  SELECT $qs
         |  FROM orders WHERE o_orderdate < TIMESTAMP '$boundary'),
         |a AS (
         |  SELECT ($binExpr) AS bin,
         |         (o_orderdate < TIMESTAMP '$boundary') AS is_ref
         |  FROM orders, anch),
         |c AS (
         |  SELECT bin,
         |         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         |         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
         |  FROM a GROUP BY 1),
         |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM c),
         |p AS (
         |  SELECT bin, n_ref, n_cur,
         |         greatest(CAST(n_ref AS DOUBLE) / tr, 1e-6) AS pr,
         |         greatest(CAST(n_cur AS DOUBLE) / tc, 1e-6) AS pc
         |  FROM c, t)
         |SELECT CAST(bin AS INT) AS bin, n_ref, n_cur,
         |       round(pr / pc, 6) AS weight
         |FROM p ORDER BY bin""".stripMargin
    }),
    Entry("a41_psi_drift", psiQ, Some {
      val bins = 10
      val qs = (1 until bins).map(i =>
        s"round(quantile_cont(o_totalprice, ${i.toDouble / bins}), 6) AS a$i")
        .mkString(",\n         ")
      val binExpr = (1 until bins)
        .map(i => s"(CASE WHEN o_totalprice > a$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH anch AS (
         |  SELECT $qs
         |  FROM orders WHERE o_orderdate < TIMESTAMP '$boundary'),
         |a AS (
         |  SELECT ($binExpr) AS bin,
         |         (o_orderdate < TIMESTAMP '$boundary') AS is_ref
         |  FROM orders, anch),
         |c AS (
         |  SELECT bin,
         |         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         |         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
         |  FROM a GROUP BY 1),
         |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM c),
         |p AS (
         |  SELECT bin, n_ref, n_cur,
         |         greatest(CAST(n_ref AS DOUBLE) / tr, 1e-6) AS pr,
         |         greatest(CAST(n_cur AS DOUBLE) / tc, 1e-6) AS pc
         |  FROM c, t)
         |SELECT CAST(bin AS INT) AS bin, n_ref, n_cur,
         |       round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
         |       round((pc - pr) * ln(pc / pr), 6) AS psi_term
         |FROM p ORDER BY bin""".stripMargin
    }, headline = true),
    Entry("a42_ks_drift", ksQ, Some {
      val grid = 256
      s"""WITH b AS (
         |  SELECT round(min(o_totalprice), 6) AS lo,
         |         round(max(o_totalprice), 6) AS hi
         |  FROM orders),
         |a AS (
         |  SELECT least(CAST(floor((o_totalprice - lo)
         |                          / ((hi - lo) / $grid)) AS INT),
         |               ${grid - 1}) AS bin,
         |         (o_orderdate < TIMESTAMP '$boundary') AS is_ref
         |  FROM orders, b),
         |c AS (
         |  SELECT bin,
         |         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS nr,
         |         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS nc
         |  FROM a GROUP BY 1),
         |t AS (SELECT sum(nr) AS tr, sum(nc) AS tc FROM c),
         |e AS (
         |  SELECT bin,
         |         round(abs(CAST(sum(nr) OVER (ORDER BY bin) AS DOUBLE) / tr
         |                 - CAST(sum(nc) OVER (ORDER BY bin) AS DOUBLE) / tc),
         |               6) AS gap
         |  FROM c, t)
         |SELECT gap AS ks_stat, CAST(bin AS INT) AS at_bin
         |FROM e ORDER BY gap DESC, bin LIMIT 1""".stripMargin
    }, headline = true),
    Entry("a43_chi2_drift", chi2Q, Some(
      """WITH c AS (
        |  SELECT event_type AS category,
        |         CAST(sum(CASE WHEN extract(day FROM ts) <= 15
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |         CAST(sum(CASE WHEN extract(day FROM ts) <= 15
        |                       THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM c),
        |e AS (
        |  SELECT category, n_ref, n_cur,
        |         (n_ref + n_cur) * CAST(tr AS DOUBLE) / (tr + tc) AS er,
        |         (n_ref + n_cur) * CAST(tc AS DOUBLE) / (tr + tc) AS ec
        |  FROM c, t)
        |SELECT category, n_ref, n_cur,
        |       round(er, 6) AS exp_ref, round(ec, 6) AS exp_cur,
        |       round((n_ref - er) * (n_ref - er) / er
        |             + (n_cur - ec) * (n_cur - ec) / ec, 6) AS chi2_term
        |FROM e ORDER BY category""".stripMargin), headline = true),
  )
}
