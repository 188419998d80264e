package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.Ops.{Entry, Q, pct}

/** Robust / outlier-aware statistics — the data-quality profiling layer a
  * training pipeline runs before trusting a numeric column (the same role
  * the reference's EDA notebook plays with driver-side pandas,
  * `ex04_dashboard/notebooks/ex04_eda.ipynb` cells 5-7 and
  * `ex05_ml_prediction_service/src/eda.py:41-47`, re-expressed as
  * distributed aggregates).
  *
  * Determinism discipline shared with [[graft.Ops]]: every moment is built
  * from exact DECIMAL sums and every quantile from Spark's exact
  * interpolated `percentile` (same interpolation as DuckDB's
  * `quantile_cont`), with anchors rounded BEFORE they feed derived
  * expressions so both engines compute downstream arithmetic on identical
  * doubles.
  *
  * Scale shape: each operator is two passes over the fact table — one keyed
  * aggregate producing a groups-sized stats frame, then a broadcast join of
  * that frame back onto the rows and a second keyed aggregate. No windows
  * over the fact table, no row explosion; both aggregates are map-side
  * combinable, so 100 TB flows through two hash shuffles of group-count
  * rows.
  */
object RobustStats {

  /** Per-group z-score outlier profile: rows beyond `zThresh` population
    * standard deviations from their group mean. Mean/std come from exact
    * decimal (sum, sum-of-squares) so the z expression is cross-engine
    * deterministic; std is POPULATION (n divisor) to avoid an n-1
    * convention mismatch. Degenerate groups (zero variance — including
    * singletons) are guarded explicitly: a distribution with no spread
    * has no outliers, so their z-scores are NULL, n_outliers is 0 and
    * max_absz is NULL. (The guard is mandatory, not stylistic — Spark 4
    * runs ANSI mode by default, where the unguarded zero division is a
    * runtime error, and the oracle carries the identical CASE.) */
  def zscoreOutliers(df: DataFrame, groupCol: String, valCol: String,
                     zThresh: Double): DataFrame = {
    val x = col(valCol)
    val st = df.groupBy(groupCol).agg(
        count(lit(1)).as("n"),
        call_function("graft_dec_sum", x, lit(18), lit(2)).cast(DoubleType).as("s"),
        call_function("graft_dec_sum", x * x, lit(30), lit(6)).cast(DoubleType).as("ss"))
      .select(col(groupCol), col("n"),
        (col("s") / col("n")).as("mean"),
        // clamp the cancellation form at 0: a constant group can land an
        // epsilon NEGATIVE variance in doubles, where Spark's sqrt gives
        // NaN (which compares above every guard) and DuckDB's sqrt raises
        sqrt(greatest(
          col("ss") / col("n") - (col("s") / col("n")) * (col("s") / col("n")),
          lit(0.0))).as("std"))
    df.join(broadcast(st), groupCol)
      .select(col(groupCol),
        when(col("std") > 0, (x - col("mean")) / col("std")).as("z"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("z")) > zThresh, 1L).otherwise(0L)).as("n_outliers"),
        round(max(abs(col("z"))), 6).as("max_absz"))
  }

  /** Per-group median absolute deviation — the robust spread measure that
    * survives the outliers [[zscoreOutliers]] flags. The group median is
    * rounded to 6 before the deviation pass so both engines take absolute
    * deviations from bit-identical anchors. */
  def medianAbsDeviation(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val med = df.groupBy(groupCol)
      .agg(round(pct(col(valCol), 0.5), 6).as("med"))
    df.join(broadcast(med), groupCol)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        round(any_value(col("med")), 4).as("median_price"),
        round(pct(abs(col(valCol) - col("med")), 0.5), 4).as("mad"))
  }

  /** Per-group winsorized mean: clip values to the [pLo, pHi] percentile
    * band, then average the clipped column — the outlier-robust mean a
    * feature pipeline feeds a model instead of the raw one. Clip anchors
    * are rounded to 6 (identical across engines); the clipped sum goes
    * through DECIMAL so the mean is row-order independent. */
  def winsorizedMean(df: DataFrame, groupCol: String, valCol: String,
                     pLo: Double, pHi: Double): DataFrame = {
    val x = col(valCol)
    val bounds = df.groupBy(groupCol).agg(
      round(pct(x, pLo), 6).as("lo"),
      round(pct(x, pHi), 6).as("hi"))
    df.join(broadcast(bounds), groupCol)
      .select(col(groupCol), col("lo"), col("hi"),
        least(greatest(x, col("lo")), col("hi")).as("clipped"),
        when(x < col("lo"), 1L).otherwise(0L).as("is_lo"),
        when(x > col("hi"), 1L).otherwise(0L).as("is_hi"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(col("is_lo")).as("n_clipped_low"),
        sum(col("is_hi")).as("n_clipped_high"),
        round(any_value(col("lo")), 4).as("p_lo"),
        round(any_value(col("hi")), 4).as("p_hi"),
        round(call_function("graft_dec_sum", col("clipped"), lit(18), lit(6)).cast(DoubleType)
          / count(lit(1)), 4).as("winsorized_mean"))
  }

  /** Equi-depth histogram: `k` bins holding ~equal row counts, bounded by
    * the exact interpolated percentiles at i/k — the bucketing a query
    * optimizer's column statistics or a feature-binning step wants, where
    * the fixed-width histogram (`a26_histogram`) would collapse under a
    * skewed distribution. Boundary anchors are rounded to 6 BEFORE binning
    * (identical across engines); ties on a boundary go to the lower bin
    * (strict `>` comparisons). A pathological distribution with coincident
    * boundaries yields empty bins, which are simply absent — identically
    * so in the oracle, which assigns bins by the same expression.
    *
    * Scale shape: one aggregate computes the k+1 anchors; bin assignment
    * is a codegen'd sum of scalar comparisons against the broadcast
    * single-row anchor frame; the final count is a k-row map-side
    * combinable aggregate. Two fact passes, no windows, no sort. */
  def eqDepthHistogram(df: DataFrame, valCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need at least 2 bins, got $k")
    val x = col(valCol)
    val interior = (1 until k).map(i =>
      round(pct(x, i.toDouble / k), 6).as(s"b$i"))
    val bounds = df.agg(
      round(min(x).cast(DoubleType), 6).as("b0"),
      (interior :+ round(max(x).cast(DoubleType), 6).as(s"b$k")): _*)
    val bin = (1 until k).map(i => when(x > col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val barr = array((0 to k).map(i => col(s"b$i")): _*)
    df.crossJoin(broadcast(bounds))
      .select(bin.as("bin"), barr.as("__b"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), any_value(col("__b")).as("__b"))
      .select(col("bin"),
        element_at(col("__b"), col("bin") + 1).as("lo"),
        element_at(col("__b"), col("bin") + 2).as("hi"),
        col("n"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns — the
    * feature-redundancy screen a training pipeline runs before assembling
    * a feature vector (the reference computes the same matrix driver-side
    * with pandas `.corr()`, `ex04_dashboard/notebooks/ex04_eda.ipynb`
    * heatmap cell; here it is ONE distributed aggregate).
    *
    * All moments (n, Σx, Σx², Σxy for every pair) come out of a single
    * map-side-combinable pass — 1 + 2c + c(c-1)/2 aggregate expressions
    * for c columns, one row total — then the c(c-1)/2 correlations are
    * pure arithmetic on that row, exploded into (col_x, col_y, corr)
    * rows. Never a per-pair pass, never a shuffle of the fact: 100 TB
    * flows through one scan regardless of how many column pairs are
    * screened. Sums ride exact DECIMAL so the double arithmetic both
    * engines run downstream starts from identical inputs;
    * `corr = (n·Σxy − Σx·Σy) / sqrt((n·Σx²−Σx²)(n·Σy²−Σy²))`, rounded. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val pairs = for { i <- cols.indices; j <- i + 1 until cols.size }
      yield (cols(i), cols(j))
    val moments =
      Seq(count(lit(1)).as("n")) ++
        cols.flatMap { c =>
          Seq(call_function("graft_dec_sum", col(c), lit(24), lit(6))
            .cast(DoubleType).as(s"s_$c"),
            call_function("graft_dec_sum", col(c) * col(c), lit(30), lit(6))
              .cast(DoubleType).as(s"ss_$c"))
        } ++
        pairs.map { case (a, b) =>
          call_function("graft_dec_sum", col(a) * col(b), lit(30), lit(6))
            .cast(DoubleType).as(s"sp_${a}_$b")
        }
    val aggRow = df.agg(moments.head, moments.tail: _*)
    def corrOf(a: String, b: String) = round(
      (col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
        sqrt((col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
          (col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))), 6)
    aggRow.select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("col_x"), lit(b).as("col_y"),
          corrOf(a, b).as("corr"))
      }: _*)).as("r"))
      .select(col("r.col_x").as("col_x"), col("r.col_y").as("col_y"),
        col("r.corr").as("corr"))
      .orderBy("col_x", "col_y")
  }

  // ---------------------------------------------------------------- entries

  private val zscoreQ: Q = (s, dir) =>
    zscoreOutliers(Tables(s, dir).lineitem, "l_returnflag", "l_extendedprice", 2.5)
      .orderBy("l_returnflag")

  private val madQ: Q = (s, dir) =>
    medianAbsDeviation(Tables(s, dir).lineitem, "l_returnflag", "l_extendedprice")
      .orderBy("l_returnflag")

  private val winsorizeQ: Q = (s, dir) =>
    winsorizedMean(Tables(s, dir).lineitem, "l_returnflag", "l_extendedprice",
      0.05, 0.95)
      .orderBy("l_returnflag")

  private val eqDepthQ: Q = (s, dir) =>
    eqDepthHistogram(Tables(s, dir).lineitem, "l_extendedprice", 8)
      .orderBy("bin")

  private val corrQ: Q = (s, dir) =>
    corrMatrix(Tables(s, dir).lineitem,
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Closed-form two-feature OLS (normal equations solved by Cramer's
    * rule): in-engine linear-model TRAINING that, unlike the seeded GBT,
    * is exactly cross-engine reproducible — every quantity derives from
    * ONE aggregation pass of exact DECIMAL moments (n, Σx, Σx², Σxy, …),
    * and the 3×3 solve plus R² are fixed-order double arithmetic over
    * those identical moments (SSE folds to Σy² − βᵀXᵀy, so no residual
    * second pass). The production story at 100 TB: model fitting cost =
    * one map-side-combinable aggregate, coefficients are a driver-sized
    * artifact. Degenerate designs (zero determinant) emit NULL betas. */
  def olsClosedForm(df: DataFrame, yCol: String, x1Col: String,
                    x2Col: String): DataFrame = {
    val (y, x1, x2) = (col(yCol), col(x1Col), col(x2Col))
    def dsum(c: org.apache.spark.sql.Column) =
      call_function("graft_dec_sum", c, lit(32), lit(8)).cast(DoubleType)
    val m = df.agg(
      count(lit(1)).cast(DoubleType).as("n"),
      dsum(x1).as("s1"), dsum(x2).as("s2"), dsum(y).as("sy"),
      dsum(x1 * x1).as("s11"), dsum(x1 * x2).as("s12"),
      dsum(x2 * x2).as("s22"),
      dsum(x1 * y).as("s1y"), dsum(x2 * y).as("s2y"),
      dsum(y * y).as("syy"))
    // Cramer on the symmetric normal matrix [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]]
    val det = col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
      col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))
    val det0 = col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
      col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))
    val det1 = col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
      col("sy") * (col("s1") * col("s22") - col("s12") * col("s2")) +
      col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
    val det2 = col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
      col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2")) +
      col("sy") * (col("s1") * col("s12") - col("s11") * col("s2"))
    val (b0, b1, b2) = (det0 / det, det1 / det, det2 / det)
    val sse = col("syy") -
      (b0 * col("sy") + b1 * col("s1y") + b2 * col("s2y"))
    val sst = col("syy") - col("sy") * col("sy") / col("n")
    m.select(col("n").cast("long").as("n"),
      round(when(abs(det) > 0, b0), 6).as("beta0"),
      round(when(abs(det) > 0, b1), 6).as("beta1"),
      round(when(abs(det) > 0, b2), 6).as("beta2"),
      round(when(abs(det) > 0 && sst > 0, lit(1.0) - sse / sst), 6).as("r2"))
  }

  /** K-fold cross-validated OLS in ONE data pass. The trick: per-fold
    * DECIMAL moment sums are sufficient statistics for BOTH sides of every
    * fold — the train moments are the (window) totals minus the fold's own
    * (exact decimal subtraction, so leave-fold-out equals a literal re-scan
    * of the other k−1 folds), and the held-out SSE expands algebraically in
    * the SAME fold moments:
    *   Σ(y−b0−b1x1−b2x2)² = syy + b0²n + b1²s11 + b2²s22
    *                        + 2(b0b1·s1 + b0b2·s2 + b1b2·s12)
    *                        − 2(b0·sy + b1·s1y + b2·s2y).
    * So the whole CV — k trainings + k evaluations — is one groupBy(fold)
    * over the data plus arithmetic on a k-row frame. At 100 TB this is the
    * difference between one scan and 2k scans; no model state, no
    * iteration, no RNG (the fold is key-derived). Doubles enter only after
    * the exact decimal stage, in a fixed operation order both engines
    * replay. */
  def kFoldOls(df: DataFrame, yCol: String, x1Col: String, x2Col: String,
               foldExpr: org.apache.spark.sql.Column): DataFrame = {
    val (y, x1, x2) = (col(yCol), col(x1Col), col(x2Col))
    def dsum(c: org.apache.spark.sql.Column) =
      call_function("graft_dec_sum", c, lit(32), lit(8))
    val m = df.withColumn("fold", foldExpr)
      .groupBy("fold")
      .agg(count(lit(1)).as("n_test"),
        dsum(x1).as("s1"), dsum(x2).as("s2"), dsum(y).as("sy"),
        dsum(x1 * x1).as("s11"), dsum(x1 * x2).as("s12"),
        dsum(x2 * x2).as("s22"),
        dsum(x1 * y).as("s1y"), dsum(x2 * y).as("s2y"),
        dsum(y * y).as("syy"))
    // leave-fold-out totals over the k-row moment frame (global window on
    // k rows — metadata-sized by construction, same audited pattern as the
    // other tiny global windows)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val mom = Seq("s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy")
    val t = m.select(
      (col("fold") +: col("n_test") +:
        (sum(col("n_test")).over(w) - col("n_test")).cast(DoubleType).as("tn") +:
        mom.flatMap(c => Seq(
          col(c).cast(DoubleType).as(s"f_$c"),
          (sum(col(c)).over(w) - col(c)).cast(DoubleType).as(s"t_$c")))): _*)
    def tc(c: String) = col(s"t_$c")
    val det = col("tn") * (tc("s11") * tc("s22") - tc("s12") * tc("s12")) -
      tc("s1") * (tc("s1") * tc("s22") - tc("s12") * tc("s2")) +
      tc("s2") * (tc("s1") * tc("s12") - tc("s11") * tc("s2"))
    val det0 = tc("sy") * (tc("s11") * tc("s22") - tc("s12") * tc("s12")) -
      tc("s1") * (tc("s1y") * tc("s22") - tc("s12") * tc("s2y")) +
      tc("s2") * (tc("s1y") * tc("s12") - tc("s11") * tc("s2y"))
    val det1 = col("tn") * (tc("s1y") * tc("s22") - tc("s12") * tc("s2y")) -
      tc("sy") * (tc("s1") * tc("s22") - tc("s12") * tc("s2")) +
      tc("s2") * (tc("s1") * tc("s2y") - tc("s1y") * tc("s2"))
    val det2 = col("tn") * (tc("s11") * tc("s2y") - tc("s1y") * tc("s12")) -
      tc("s1") * (tc("s1") * tc("s2y") - tc("s1y") * tc("s2")) +
      tc("sy") * (tc("s1") * tc("s12") - tc("s11") * tc("s2"))
    val (b0, b1, b2) = (det0 / det, det1 / det, det2 / det)
    def fc(c: String) = col(s"f_$c")
    val sseTest = fc("syy") +
      b0 * b0 * col("n_test").cast(DoubleType) +
      b1 * b1 * fc("s11") + b2 * b2 * fc("s22") +
      lit(2.0) * (b0 * b1 * fc("s1") + b0 * b2 * fc("s2") +
        b1 * b2 * fc("s12")) -
      lit(2.0) * (b0 * fc("sy") + b1 * fc("s1y") + b2 * fc("s2y"))
    t.select(col("fold"),
      col("tn").cast("long").as("n_train"), col("n_test"),
      round(b0, 6).as("beta0"), round(b1, 6).as("beta1"),
      round(b2, 6).as("beta2"),
      round(sqrt(sseTest / col("n_test").cast(DoubleType)), 4)
        .as("rmse_test"))
      .orderBy("fold")
  }

  /** Split-conformal prediction interval + measured coverage. Calibration
    * half scores absolute residuals against a fixed model; `qhat` is the
    * exact interpolated (1−α) quantile of those scores (the finite-sample
    * (n+1)/n correction is O(1/n) here and omitted so the quantile stays a
    * literal both engines interpolate identically); the interval
    * `ŷ ± qhat` is then AUDITED on the disjoint test half — coverage is a
    * measured number, not the theorem's promise. Two key-derived halves
    * (no RNG), one aggregate each, a broadcast of the single-row qhat onto
    * the test agg: distribution-free uncertainty quantification at
    * one-scan cost. */
  def conformalInterval(df: DataFrame, yCol: String,
                        predCol: String, splitExpr: org.apache.spark.sql.Column,
                        alpha: Double): DataFrame = {
    val scored = df.withColumn("__cal", splitExpr)
      .withColumn("__r", abs(col(yCol) - col(predCol)))
    val cal = scored.filter(col("__cal"))
      .agg(count(lit(1)).as("n_cal"),
        round(pct(col("__r"), 1.0 - alpha), 6).as("qhat"))
    scored.filter(!col("__cal"))
      .crossJoin(broadcast(cal))
      .groupBy("n_cal", "qhat")
      .agg(count(lit(1)).as("n_test"),
        round(avg((col("__r") <= col("qhat")).cast(DoubleType)), 6)
          .as("coverage_test"))
      .select("n_cal", "qhat", "n_test", "coverage_test")
  }

  /** Benford first-digit audit: the distribution of leading digits of a
    * naturally-occurring money column against Benford's law
    * `log10(1 + 1/d)` — the classic fraud / synthetic-data smell test.
    * The leading digit comes from the INTEGER-STRING of floor(x) (both
    * engines format BIGINT identically), never from `floor(log10)` whose
    * boundary ulps differ by engine at exact powers of ten. One
    * digit-keyed counting aggregate; 9-row output. */
  def benfordAudit(df: DataFrame, valCol: String): DataFrame = {
    val digit = substring(floor(col(valCol)).cast("long").cast("string"), 1, 1)
      .cast("int")
    val counts = df.filter(col(valCol) >= 1)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
    counts.crossJoin(broadcast(counts.agg(sum(col("n")).as("__t"))))
      .select(col("digit"), col("n"),
        round(col("n").cast(DoubleType) / col("__t"), 6).as("observed"),
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("benford"))
      .withColumn("deviation",
        round(abs(col("observed") - col("benford")), 6))
  }

  /** Fit against a PLANTED model: y = 3 + 2·quantity − 5·discount plus
    * centered hash-derived pseudo-noise (integer arithmetic, identical in
    * both engines). The synthetic feed's raw columns are mutually
    * uncorrelated (all |corr| < 0.01), so a fit on them would only grade
    * the degenerate-R² path; planting makes the entry grade RECOVERY —
    * betas land on (3, 2, −5) and the oracle must reproduce them. */
  private val olsQ: Q = (s, dir) =>
    olsClosedForm(
      Tables(s, dir).lineitem.withColumn("y_planted",
        lit(3.0) + lit(2.0) * col("l_quantity") - lit(5.0) * col("l_discount")
          + ((col("l_orderkey") * 7919 + col("l_linenumber")) % 1000)
            .cast(DoubleType) / 1000.0 - 0.4995),
      "y_planted", "l_quantity", "l_discount")

  private val benfordQ: Q = (s, dir) =>
    benfordAudit(Tables(s, dir).lineitem, "l_extendedprice").orderBy("digit")

  /** Same planted target as [[olsQ]] so per-fold recovery is gradeable. */
  private def plantedLineitem(s: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame =
    Tables(s, dir).lineitem.withColumn("y_planted",
      lit(3.0) + lit(2.0) * col("l_quantity") - lit(5.0) * col("l_discount")
        + ((col("l_orderkey") * 7919 + col("l_linenumber")) % 1000)
          .cast(DoubleType) / 1000.0 - 0.4995)

  private val kfoldQ: Q = (s, dir) =>
    kFoldOls(plantedLineitem(s, dir), "y_planted", "l_quantity", "l_discount",
      (col("l_orderkey") * 7 + col("l_linenumber")) % 5)

  private val conformalQ: Q = (s, dir) =>
    conformalInterval(
      plantedLineitem(s, dir).withColumn("pred",
        lit(3.0) + lit(2.0) * col("l_quantity")
          - lit(5.0) * col("l_discount")),
      "y_planted", "pred",
      (col("l_orderkey") * 7 + col("l_linenumber")) % 2 === 0,
      alpha = 0.1)

  /** Logistic regression trained IN-ENGINE by ridge-IRLS (penalized
    * Newton), oracle-EXACT: a fixed `iters`-step schedule from β=0 where
    * each step aggregates the five weighted moments (Σw, Σwx, Σwx²,
    * Σ(wη+y−p), Σx(wη+y−p)) as exact DECIMAL(30,10) sums — map-side
    * combinable, one metadata-sized Exchange per step — then solves the
    * 2×2 ridge normal equations on the driver (a 1-row collect per step,
    * the text_bpe_train merge-round contract). β is rounded to 8dp
    * BETWEEN steps (the module's anchor-rounding discipline) so both
    * engines iterate from identical states; the DuckDB oracle is the
    * GENERATED `iters`-times-unrolled CTE chain of the same recurrence
    * ([[logregOracleSql]] — the text_bpe_train generated-oracle
    * pattern). Ridge (λ on the Hessian diagonal) keeps the step bounded
    * on separable data, where plain IRLS diverges.
    *
    * Scale shape: the training data never moves — each step is one
    * partial-aggregate pass producing 5 decimal sums; at 100 TB that is
    * `iters` scans (or one scan per step over a cached 2-column
    * projection, as here) with state the size of the model, not the
    * data. GBT training (ml_gbt_metrics) remains rows-only because its
    * seeded tree splits aren't oracle-reproducible; THIS entry is the
    * hash-green trained-classifier counterpart. */
  def logregIrls(feats: DataFrame, iters: Int, lambda: Double): DataFrame = {
    val s10 = DecimalType(30, 10)
    def r8(v: Double): Double =
      BigDecimal(v).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val f = feats.persist()
    try {
      var b0 = 0.0
      var b1 = 0.0
      for (_ <- 1 to iters) {
        val eta = lit(b0) + lit(b1) * col("x")
        val p = lit(1.0) / (lit(1.0) + exp(-eta))
        val w = p * (lit(1.0) - p)
        val r = w * eta + (col("y") - p)
        val m = f.agg(
          sum(w.cast(s10)).cast(DoubleType),
          sum((w * col("x")).cast(s10)).cast(DoubleType),
          sum((w * col("x") * col("x")).cast(s10)).cast(DoubleType),
          sum(r.cast(s10)).cast(DoubleType),
          sum((r * col("x")).cast(s10)).cast(DoubleType)).head()
        val (sww, swx, swxx, r0, r1) =
          (m.getDouble(0), m.getDouble(1), m.getDouble(2), m.getDouble(3), m.getDouble(4))
        val det = (sww + lambda) * (swxx + lambda) - swx * swx
        b0 = r8(((swxx + lambda) * r0 - swx * r1) / det)
        b1 = r8(((sww + lambda) * r1 - swx * r0) / det)
      }
      val pFin = lit(1.0) / (lit(1.0) + exp(-(lit(b0) + lit(b1) * col("x"))))
      f.agg(
        count(lit(1)).as("n_rows"),
        sum(col("y").cast("int")).as("n_pos"),
        round(lit(b0), 6).as("beta0"),
        round(lit(b1), 6).as("beta1"),
        round(
          sum((-(col("y") * log(pFin) + (lit(1.0) - col("y")) * log(lit(1.0) - pFin)))
            .cast(s10)).cast(DoubleType) / count(lit(1)), 6).as("log_loss"))
        .select(col("n_rows"), col("n_pos"),
          lit(r6(b0)).as("beta0"), lit(r6(b1)).as("beta1"), col("log_loss"))
    } finally f.unpersist()
  }

  /** Planted-Bernoulli label over documents: y_i = 1 iff the
    * engine-replayable md5-uniform of doc_id falls under σ(−3 + x_i),
    * x = n_chars/100 — so the IRLS fit must RECOVER the planted (−3, 1)
    * modulo ridge shrinkage (lands at (−2.83, 0.95) at sf0.01), the same
    * planted-recovery grading as a47_ols_closed_form. */
  private val logregQ: Q = (s, dir) => {
    val x = col("n_chars").cast(DoubleType) / lit(100.0)
    val u = (pmod(
      graft.functions.TextOps.md5Hash64Hof(
        concat(col("doc_id").cast("string"), lit(":lr"))),
      lit(1048576L)).cast(DoubleType) + lit(0.5)) / lit(1048576.0)
    val planted = lit(1.0) / (lit(1.0) + exp(lit(3.0) - x))
    logregIrls(
      Tables(s, dir).documents
        .select(x.as("x"),
          when(u < planted, 1.0).otherwise(0.0).as("y")),
      iters = 4, lambda = 1.0)
  }

  /** The generated `iters`-unrolled DuckDB twin of [[logregIrls]] over the
    * same planted feature frame (text_bpe_train's generated-oracle
    * pattern): CTE pair (moments_k, beta_k) per step, identical decimal
    * routing, identical 8dp inter-step rounding. */
  private def logregOracleSql(iters: Int, lambda: Double): String = {
    val lam = s"CAST($lambda AS DOUBLE)"
    val feat =
      """f AS (
        |  SELECT n_chars / 100.0 AS x,
        |         CASE WHEN (md5_number_upper(CAST(doc_id AS VARCHAR) || ':lr')
        |                    % 1048576 + 0.5) / 1048576.0
        |                   < 1 / (1 + exp(3.0 - n_chars / 100.0))
        |              THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
        |  FROM documents)""".stripMargin
    val steps = (1 to iters).map { k =>
      val prev = s"b${k - 1}"
      s"""m$k AS (
         |  SELECT
         |    CAST(sum(CAST(w AS DECIMAL(30,10))) AS DOUBLE) AS sww,
         |    CAST(sum(CAST(w * x AS DECIMAL(30,10))) AS DOUBLE) AS swx,
         |    CAST(sum(CAST(w * x * x AS DECIMAL(30,10))) AS DOUBLE) AS swxx,
         |    CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS r0,
         |    CAST(sum(CAST(r * x AS DECIMAL(30,10))) AS DOUBLE) AS r1
         |  FROM (SELECT x, p * (1 - p) AS w,
         |               p * (1 - p) * eta + (y - p) AS r
         |        FROM (SELECT x, y, b0 + b1 * x AS eta,
         |                     1 / (1 + exp(-(b0 + b1 * x))) AS p
         |              FROM f, $prev))),
         |b$k AS (
         |  SELECT
         |    round(((swxx + $lam) * r0 - swx * r1)
         |          / ((sww + $lam) * (swxx + $lam) - swx * swx), 8) AS b0,
         |    round(((sww + $lam) * r1 - swx * r0)
         |          / ((sww + $lam) * (swxx + $lam) - swx * swx), 8) AS b1
         |  FROM m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $feat,
       |b0 AS (SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1),
       |$steps
       |SELECT count(*) AS n_rows,
       |       CAST(sum(CAST(y AS INT)) AS BIGINT) AS n_pos,
       |       round(min(b0), 6) AS beta0,
       |       round(min(b1), 6) AS beta1,
       |       round(CAST(sum(CAST(-(y * ln(p) + (1 - y) * ln(1 - p))
       |                          AS DECIMAL(30,10))) AS DOUBLE)
       |             / count(*), 6) AS log_loss
       |FROM (SELECT y, b0, b1, 1 / (1 + exp(-(b0 + b1 * x))) AS p
       |      FROM f, b$iters)""".stripMargin
  }

  /** Bernoulli Naive Bayes over token-presence features, trained and
    * evaluated IN-ENGINE and oracle-exact WITHOUT iteration: training is
    * one counting aggregate (class priors + per-feature Laplace-smoothed
    * conditionals), scoring is a broadcast of that 1-row model onto the
    * held-out split, and the output is the confusion matrix + accuracy.
    * The label is token-planted (doc contains `labelToken`), and the
    * label token is deliberately IN the vocabulary — the fit must
    * recover it as the dominant feature and score ~perfect held-out
    * accuracy, the same planted-recovery grading as a47/ml_logreg.
    *
    * Determinism: the train/test split is the engine-replayable
    * md5-draw; all probability arithmetic runs in the same
    * left-association order in both engines (the class score is a fold
    * starting from the log-prior), and per-class scores round to 9dp
    * before the argmax comparison. Scale shape: train = one map-side
    * combinable aggregate, score = model-broadcast map pass — nothing
    * data-sized ever shuffles. */
  def naiveBayesContains(docs: DataFrame, idCol: String, textCol: String,
                         labelToken: String, vocab: Seq[String]): DataFrame = {
    val isTrain = pmod(graft.functions.TextOps.md5Hash64Hof(
      concat(col(idCol).cast("string"), lit(":nb"))), lit(4096L)) < 3277
    val y = when(col(textCol).contains(labelToken), 1).otherwise(0)
    val featCols = vocab.zipWithIndex.map { case (w, i) =>
      when(col(textCol).contains(w), 1).otherwise(0).as(s"f$i")
    }
    val feats = docs.select(
      (Seq(y.as("y"), isTrain.as("tr")) ++ featCols): _*)
    val countAggs = vocab.indices.flatMap(i => Seq(
      sum(col(s"f$i") * col("y")).as(s"c1_$i"),
      sum(col(s"f$i") * (lit(1) - col("y"))).as(s"c0_$i")))
    val model = feats.filter(col("tr")).agg(
      count(lit(1)).as("n_train"),
      (sum(col("y")).as("n1") +: countAggs): _*)
    def classScore(prefix: String, nc: Column): Column = {
      val prior = log(nc.cast("double") / col("n_train"))
      vocab.indices.foldLeft(prior) { (acc, i) =>
        val p = (col(s"${prefix}_$i") + lit(1.0)) / (nc + lit(2.0))
        acc + when(col(s"f$i") === 1, log(p)).otherwise(log(lit(1.0) - p))
      }
    }
    val n1 = col("n1")
    val scored = feats.filter(!col("tr")).crossJoin(broadcast(model))
      .withColumn("s1", round(classScore("c1", n1), 9))
      .withColumn("s0", round(classScore("c0", col("n_train") - n1), 9))
      .withColumn("p", when(col("s1") >= col("s0"), 1).otherwise(0))
    scored.agg(
      max(col("n_train")).as("n_train"),
      count(lit(1)).as("n_test"),
      sum(when(col("y") === 1 && col("p") === 1, 1).otherwise(0)).as("tp"),
      sum(when(col("y") === 0 && col("p") === 1, 1).otherwise(0)).as("fp"),
      sum(when(col("y") === 0 && col("p") === 0, 1).otherwise(0)).as("tn"),
      sum(when(col("y") === 1 && col("p") === 0, 1).otherwise(0)).as("fn"))
      .select(col("n_train"), col("n_test"), col("tp"), col("fp"),
        col("tn"), col("fn"),
        round((col("tp") + col("tn")).cast(DoubleType) / col("n_test"), 4)
          .as("accuracy"))
  }

  /** ROC-AUC as the Mann-Whitney rank statistic — the threshold-free
    * ranking metric the calibration-bin table (a46) doesn't give:
    * AUC = (Σ ranks of positives − n₁(n₁+1)/2) / (n₁·n₀), with AVERAGE
    * ranks on score ties (the exact tie-corrected U, identical to
    * integrating the ROC curve with trapezoids). Everything up to the
    * final division is integer/rational window arithmetic, so the oracle
    * re-derives it exactly; the one division rounds to 6dp.
    *
    * Scale shape: one global rank — but over the SCORES column only
    * (2 narrow columns cross the sort), and at 100 TB the production
    * variant buckets scores first (a46's binning) and computes the same
    * statistic per-bucket with closed-form tie handling; the exact
    * global rank is the graded-scale proof harness, the same trade as
    * the layout family's ntile census. */
  def aucRoc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = df.select(col(scoreCol).as("s"), col(labelCol).as("y"))
      .withColumn("rk", rank().over(Window.orderBy(col("s"))))
      .withColumn("nties", count(lit(1)).over(Window.partitionBy(col("s"))))
      // average rank of a tie group = rank + (nties - 1) / 2
      .withColumn("avgrk",
        col("rk").cast(DoubleType) + (col("nties") - 1).cast(DoubleType) / 2.0)
    ranked.agg(
      count(lit(1)).as("n"),
      sum(col("y")).as("n_pos"),
      sum(when(col("y") === 1, col("avgrk")).otherwise(0.0)).as("rsum"))
      .select(col("n"), col("n_pos"),
        // Degenerate-class semantic (ADVICE r10): with only one class
        // present (n_pos = 0 or n_pos = n) ranking quality is undefined —
        // emit an EXPLICIT null rather than relying on the divide-by-zero
        // null of non-ANSI mode, so the contract survives ANSI on.
        when(col("n_pos") > 0 && col("n_pos") < col("n"),
          round((col("rsum") - col("n_pos").cast(DoubleType)
            * (col("n_pos") + 1).cast(DoubleType) / 2.0)
            / (col("n_pos") * (col("n") - col("n_pos"))).cast(DoubleType), 6))
          .otherwise(lit(null).cast(DoubleType))
          .as("auc"))
  }

  /** Same planted label as [[logregQ]], scored by the raw n_chars feature:
    * the AUC of a monotone feature against its own planted logistic label
    * is the separability the plant built in (~0.89 at sf0.01). */
  private val aucQ: Q = (s, dir) => {
    val u = (pmod(
      graft.functions.TextOps.md5Hash64Hof(
        concat(col("doc_id").cast("string"), lit(":lr"))),
      lit(1048576L)).cast(DoubleType) + lit(0.5)) / lit(1048576.0)
    val x = col("n_chars").cast(DoubleType) / lit(100.0)
    val planted = lit(1.0) / (lit(1.0) + exp(lit(3.0) - x))
    aucRoc(
      Tables(s, dir).documents
        .select(col("n_chars").cast(DoubleType).as("score"),
          when(u < planted, 1).otherwise(0).as("label")),
      "score", "label")
  }

  private val nbVocab = Seq(
    "vector", "join", "filter", "stream", "hash", "table", "query", "sort")

  private val naiveBayesQ: Q = (s, dir) =>
    naiveBayesContains(Tables(s, dir).documents, "doc_id", "text",
      labelToken = "vector", vocab = nbVocab)

  /** Generated single-pass DuckDB twin of [[naiveBayesContains]] — same
    * vocab, same md5 split, same fold-from-prior association order. */
  private def naiveBayesOracleSql(labelToken: String,
                                  vocab: Seq[String]): String = {
    val featDefs = vocab.zipWithIndex.map { case (w, i) =>
      s"CASE WHEN contains(text, '$w') THEN 1 ELSE 0 END AS f$i"
    }.mkString(",\n         ")
    val countDefs = vocab.indices.map(i =>
      s"CAST(sum(f$i * y) AS BIGINT) AS c1_$i, " +
        s"CAST(sum(f$i * (1 - y)) AS BIGINT) AS c0_$i").mkString(",\n         ")
    def score(prefix: String, nc: String): String =
      vocab.indices.foldLeft(s"ln(CAST($nc AS DOUBLE) / n_train)") { (acc, i) =>
        acc + s" + CASE WHEN f$i = 1" +
          s" THEN ln((${prefix}_$i + 1.0) / ($nc + 2.0))" +
          s" ELSE ln(1.0 - (${prefix}_$i + 1.0) / ($nc + 2.0)) END"
      }
    s"""WITH f AS (
       |  SELECT CASE WHEN contains(text, '$labelToken') THEN 1 ELSE 0 END AS y,
       |         md5_number_upper(CAST(doc_id AS VARCHAR) || ':nb')
       |           % 4096 < 3277 AS tr,
       |         $featDefs
       |  FROM documents),
       |model AS (
       |  SELECT count(*) AS n_train, CAST(sum(y) AS BIGINT) AS n1,
       |         $countDefs
       |  FROM f WHERE tr),
       |scored AS (
       |  SELECT y,
       |         round(${score("c1", "n1")}, 9) AS s1,
       |         round(${score("c0", "(n_train - n1)")}, 9) AS s0
       |  FROM f, model WHERE NOT tr),
       |cm AS (
       |  SELECT
       |    CAST(sum(CASE WHEN y = 1 AND s1 >= s0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN y = 0 AND s1 >= s0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN y = 0 AND s1 < s0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |    CAST(sum(CASE WHEN y = 1 AND s1 < s0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    count(*) AS n_test
       |  FROM scored)
       |SELECT (SELECT n_train FROM model) AS n_train, n_test,
       |       tp, fp, tn, fn,
       |       round(CAST(tp + tn AS DOUBLE) / n_test, 4) AS accuracy
       |FROM cm""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    // tie-corrected Mann-Whitney: average ranks per score value, exact
    // rational arithmetic up to one rounded division
    Entry("ml_auc_roc", aucQ, Some(
      """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS score,
        |         CASE WHEN (CAST(md5_number_upper(CAST(doc_id AS VARCHAR)
        |                          || ':lr') % 1048576 AS DOUBLE) + 0.5)
        |                   / 1048576.0
        |                  < 1 / (1 + exp(3.0 - n_chars / 100.0))
        |              THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |r AS (
        |  SELECT y,
        |         CAST(rank() OVER (ORDER BY score) AS DOUBLE)
        |           + (CAST(count(*) OVER (PARTITION BY score) AS DOUBLE) - 1)
        |             / 2.0 AS avgrk
        |  FROM d)
        |SELECT count(*) AS n,
        |       CAST(sum(y) AS BIGINT) AS n_pos,
        |       round((sum(CASE WHEN y = 1 THEN avgrk ELSE 0.0 END)
        |              - CAST(sum(y) AS DOUBLE) * (sum(y) + 1) / 2.0)
        |             / CAST(sum(y) * (count(*) - sum(y)) AS DOUBLE), 6)
        |         AS auc
        |FROM r""".stripMargin), headline = true),
    Entry("ml_naive_bayes", naiveBayesQ,
      Some(naiveBayesOracleSql("vector", nbVocab)), headline = true),
    Entry("ml_logreg_irls", logregQ,
      Some(logregOracleSql(iters = 4, lambda = 1.0)), headline = true),
    // per-fold DECIMAL moments; leave-fold-out = exact decimal window
    // subtraction; Cramer + held-out SSE in the same fixed-order double
    // math as the engine
    Entry("ml_kfold_ols", kfoldQ, Some(
      """WITH base AS (
        |  SELECT l_quantity, l_discount,
        |         CAST((l_orderkey * 7 + l_linenumber) % 5 AS INT) AS fold,
        |         CAST(3.0 AS DOUBLE) + CAST(2.0 AS DOUBLE) * l_quantity
        |           - CAST(5.0 AS DOUBLE) * l_discount
        |           + CAST((l_orderkey * 7919 + l_linenumber) % 1000
        |                  AS DOUBLE) / 1000.0 - 0.4995 AS y
        |  FROM lineitem),
        |f AS (
        |  SELECT fold, count(*) AS n_test,
        |    sum(CAST(l_quantity AS DECIMAL(32,8))) AS s1,
        |    sum(CAST(l_discount AS DECIMAL(32,8))) AS s2,
        |    sum(CAST(y AS DECIMAL(32,8))) AS sy,
        |    sum(CAST(l_quantity * l_quantity AS DECIMAL(32,8))) AS s11,
        |    sum(CAST(l_quantity * l_discount AS DECIMAL(32,8))) AS s12,
        |    sum(CAST(l_discount * l_discount AS DECIMAL(32,8))) AS s22,
        |    sum(CAST(l_quantity * y AS DECIMAL(32,8))) AS s1y,
        |    sum(CAST(l_discount * y AS DECIMAL(32,8))) AS s2y,
        |    sum(CAST(y * y AS DECIMAL(32,8))) AS syy
        |  FROM base GROUP BY 1),
        |t AS (
        |  SELECT fold, n_test,
        |    CAST(sum(n_test) OVER () - n_test AS DOUBLE) AS tn,
        |    CAST(s1  AS DOUBLE) AS f_s1,  CAST(sum(s1)  OVER () - s1  AS DOUBLE) AS t_s1,
        |    CAST(s2  AS DOUBLE) AS f_s2,  CAST(sum(s2)  OVER () - s2  AS DOUBLE) AS t_s2,
        |    CAST(sy  AS DOUBLE) AS f_sy,  CAST(sum(sy)  OVER () - sy  AS DOUBLE) AS t_sy,
        |    CAST(s11 AS DOUBLE) AS f_s11, CAST(sum(s11) OVER () - s11 AS DOUBLE) AS t_s11,
        |    CAST(s12 AS DOUBLE) AS f_s12, CAST(sum(s12) OVER () - s12 AS DOUBLE) AS t_s12,
        |    CAST(s22 AS DOUBLE) AS f_s22, CAST(sum(s22) OVER () - s22 AS DOUBLE) AS t_s22,
        |    CAST(s1y AS DOUBLE) AS f_s1y, CAST(sum(s1y) OVER () - s1y AS DOUBLE) AS t_s1y,
        |    CAST(s2y AS DOUBLE) AS f_s2y, CAST(sum(s2y) OVER () - s2y AS DOUBLE) AS t_s2y,
        |    CAST(syy AS DOUBLE) AS f_syy, CAST(sum(syy) OVER () - syy AS DOUBLE) AS t_syy
        |  FROM f),
        |d AS (
        |  SELECT *,
        |    tn*(t_s11*t_s22 - t_s12*t_s12) - t_s1*(t_s1*t_s22 - t_s12*t_s2)
        |      + t_s2*(t_s1*t_s12 - t_s11*t_s2) AS det,
        |    t_sy*(t_s11*t_s22 - t_s12*t_s12) - t_s1*(t_s1y*t_s22 - t_s12*t_s2y)
        |      + t_s2*(t_s1y*t_s12 - t_s11*t_s2y) AS det0,
        |    tn*(t_s1y*t_s22 - t_s12*t_s2y) - t_sy*(t_s1*t_s22 - t_s12*t_s2)
        |      + t_s2*(t_s1*t_s2y - t_s1y*t_s2) AS det1,
        |    tn*(t_s11*t_s2y - t_s1y*t_s12) - t_s1*(t_s1*t_s2y - t_s1y*t_s2)
        |      + t_sy*(t_s1*t_s12 - t_s11*t_s2) AS det2
        |  FROM t),
        |e AS (
        |  SELECT *, det0/det AS b0, det1/det AS b1, det2/det AS b2 FROM d),
        |g AS (
        |  SELECT *,
        |    f_syy + b0*b0*CAST(n_test AS DOUBLE) + b1*b1*f_s11
        |      + b2*b2*f_s22
        |      + 2.0*(b0*b1*f_s1 + b0*b2*f_s2 + b1*b2*f_s12)
        |      - 2.0*(b0*f_sy + b1*f_s1y + b2*f_s2y) AS sse
        |  FROM e)
        |SELECT fold, CAST(tn AS BIGINT) AS n_train, n_test,
        |       round(b0, 6) AS beta0, round(b1, 6) AS beta1,
        |       round(b2, 6) AS beta2,
        |       round(sqrt(sse / CAST(n_test AS DOUBLE)), 4) AS rmse_test
        |FROM g ORDER BY fold""".stripMargin), headline = true),
    // r is abs(y - pred) with BOTH operands spelled out in the engine's
    // exact double op order — algebraically it is |noise|, but (A+noise)-A
    // differs from noise in last ulps, and qhat rounds from those bits
    Entry("ml_conformal_interval", conformalQ, Some(
      """WITH base AS (
        |  SELECT (l_orderkey * 7 + l_linenumber) % 2 = 0 AS cal,
        |         abs((CAST(3.0 AS DOUBLE) + CAST(2.0 AS DOUBLE) * l_quantity
        |              - CAST(5.0 AS DOUBLE) * l_discount
        |              + CAST((l_orderkey * 7919 + l_linenumber) % 1000
        |                     AS DOUBLE) / 1000.0 - 0.4995)
        |             - (CAST(3.0 AS DOUBLE) + CAST(2.0 AS DOUBLE) * l_quantity
        |                - CAST(5.0 AS DOUBLE) * l_discount)) AS r
        |  FROM lineitem),
        |c AS (
        |  SELECT count(*) AS n_cal,
        |         round(quantile_cont(r, 0.9), 6) AS qhat
        |  FROM base WHERE cal)
        |SELECT c.n_cal, c.qhat, count(*) AS n_test,
        |       round(avg(CAST(b.r <= c.qhat AS DOUBLE)), 6) AS coverage_test
        |FROM base b, c WHERE NOT b.cal
        |GROUP BY c.n_cal, c.qhat""".stripMargin), headline = true),
    // one DECIMAL moment pass; Cramer + R2 in fixed-order double math
    Entry("a47_ols_closed_form", olsQ, Some(
      """WITH base AS (
        |  SELECT l_quantity, l_discount,
        |         CAST(3.0 AS DOUBLE) + CAST(2.0 AS DOUBLE) * l_quantity
        |           - CAST(5.0 AS DOUBLE) * l_discount
        |           + CAST((l_orderkey * 7919 + l_linenumber) % 1000
        |                  AS DOUBLE) / 1000.0 - 0.4995 AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(32,8))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(l_discount AS DECIMAL(32,8))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(y AS DECIMAL(32,8))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(32,8)))
        |         AS DOUBLE) AS s11,
        |    CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(32,8)))
        |         AS DOUBLE) AS s12,
        |    CAST(sum(CAST(l_discount * l_discount AS DECIMAL(32,8)))
        |         AS DOUBLE) AS s22,
        |    CAST(sum(CAST(l_quantity * y AS DECIMAL(32,8)))
        |         AS DOUBLE) AS s1y,
        |    CAST(sum(CAST(l_discount * y AS DECIMAL(32,8)))
        |         AS DOUBLE) AS s2y,
        |    CAST(sum(CAST(y * y AS DECIMAL(32,8))) AS DOUBLE) AS syy
        |  FROM base),
        |d AS (
        |  SELECT *,
        |    n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2) AS det,
        |    sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y) AS det0,
        |    n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2) AS det1,
        |    n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2) AS det2
        |  FROM m),
        |e AS (
        |  SELECT *, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
        |  FROM d),
        |f AS (
        |  SELECT *, syy - (b0*sy + b1*s1y + b2*s2y) AS sse,
        |         syy - sy*sy/n AS sst
        |  FROM e)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN abs(det) > 0 THEN b0 END, 6) AS beta0,
        |  round(CASE WHEN abs(det) > 0 THEN b1 END, 6) AS beta1,
        |  round(CASE WHEN abs(det) > 0 THEN b2 END, 6) AS beta2,
        |  round(CASE WHEN abs(det) > 0 AND sst > 0
        |             THEN CAST(1 AS DOUBLE) - sse / sst END, 6) AS r2
        |FROM f""".stripMargin), headline = true),
    // leading digit from the BIGINT string, never floor(log10) (boundary
    // ulps at exact powers of ten differ by engine)
    Entry("a48_benford", benfordQ, Some(
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
        |                          AS VARCHAR), 1, 1) AS INT) AS digit,
        |         count(*) AS n
        |  FROM lineitem WHERE l_extendedprice >= 1 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
        |SELECT digit, n,
        |       round(CAST(n AS DOUBLE) / t, 6) AS observed,
        |       round(log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit), 6)
        |         AS benford,
        |       round(abs(round(CAST(n AS DOUBLE) / t, 6)
        |                 - round(log10(CAST(1 AS DOUBLE)
        |                               + CAST(1 AS DOUBLE) / digit), 6)), 6)
        |         AS deviation
        |FROM c, t ORDER BY digit""".stripMargin), headline = true),
    Entry("a37_zscore_outliers", zscoreQ, Some(
      """WITH st AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |         CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS ss
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT l_returnflag, s / n AS mean,
        |         sqrt(greatest(ss / n - (s / n) * (s / n), 0)) AS std
        |  FROM st),
        |z AS (
        |  SELECT l.l_returnflag,
        |         CASE WHEN std > 0 THEN (l_extendedprice - mean) / std END AS zv
        |  FROM lineitem l JOIN m USING (l_returnflag))
        |SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CASE WHEN abs(zv) > 2.5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       round(max(abs(zv)), 6) AS max_absz
        |FROM z GROUP BY 1 ORDER BY l_returnflag""".stripMargin), headline = true),
    Entry("a38_mad", madQ, Some(
      """WITH med AS (
        |  SELECT l_returnflag,
        |         round(quantile_cont(l_extendedprice, 0.5), 6) AS med
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |       round(any_value(med), 4) AS median_price,
        |       round(quantile_cont(abs(l.l_extendedprice - med), 0.5), 4) AS mad
        |FROM lineitem l JOIN med USING (l_returnflag)
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin), headline = true),
    Entry("a39_winsorize", winsorizeQ, Some(
      """WITH b AS (
        |  SELECT l_returnflag,
        |         round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
        |         round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |       CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clipped_low,
        |       CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clipped_high,
        |       round(any_value(lo), 4) AS p_lo,
        |       round(any_value(hi), 4) AS p_hi,
        |       round(CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi)
        |                           AS DECIMAL(18,6))) AS DOUBLE)
        |             / count(*), 4) AS winsorized_mean
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin), headline = true),
    // generated for k=8 with the same strict-> comparisons and rounded
    // anchors the operator embeds
    Entry("a40_eqdepth_histogram", eqDepthQ, Some {
      val k = 8
      val qs = (1 until k).map(i =>
        s"round(quantile_cont(l_extendedprice, ${i.toDouble / k}), 6) AS b$i")
        .mkString(",\n         ")
      val binExpr = (1 until k).map(i =>
        s"(CASE WHEN l_extendedprice > b$i THEN 1 ELSE 0 END)").mkString(" + ")
      val cols = (0 to k).map(i => s"b$i").mkString(", ")
      val lst = (0 to k).map(i => s"b$i").mkString("[", ", ", "]")
      s"""WITH b AS (
         |  SELECT round(min(l_extendedprice), 6) AS b0,
         |         $qs,
         |         round(max(l_extendedprice), 6) AS b$k
         |  FROM lineitem),
         |a AS (
         |  SELECT ($binExpr) AS bin, $cols FROM lineitem, b)
         |SELECT CAST(bin AS INT) AS bin,
         |       min($lst[bin + 1]) AS lo,
         |       max($lst[bin + 2]) AS hi,
         |       count(*) AS n
         |FROM a GROUP BY bin ORDER BY bin""".stripMargin
    }),
    // generated for the same column list as the entry; the moment casts
    // (DECIMAL(24,6) sums, DECIMAL(30,6) squares/products) and the final
    // double arithmetic mirror corrMatrix exactly
    Entry("a44_corr_matrix", corrQ, Some {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for { i <- cs.indices; j <- i + 1 until cs.size }
        yield (cs(i), cs(j))
      val moments =
        (cs.flatMap { c => Seq(
          s"CAST(sum(CAST($c AS DECIMAL(24,6))) AS DOUBLE) AS s_$c",
          s"CAST(sum(CAST($c * $c AS DECIMAL(30,6))) AS DOUBLE) AS ss_$c")
        } ++ pairs.map { case (a, b) =>
          s"CAST(sum(CAST($a * $b AS DECIMAL(30,6))) AS DOUBLE) AS sp_${a}_$b"
        }).mkString(",\n         ")
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_x, '$b' AS col_y,
           |       round((n * sp_${a}_$b - s_$a * s_$b) /
           |             sqrt((n * ss_$a - s_$a * s_$a) *
           |                  (n * ss_$b - s_$b * s_$b)), 6) AS corr
           |FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH m AS (
         |  SELECT count(*) AS n,
         |         $moments
         |  FROM lineitem)
         |$rows
         |ORDER BY col_x, col_y""".stripMargin
    }, headline = true),
  )
}
