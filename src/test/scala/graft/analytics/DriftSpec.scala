package graft.analytics

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class DriftSpec extends SparkSpec {
  import spark.implicits._

  // 1..400 in both windows => identical distributions
  private def samePop = (1 to 400).flatMap(i =>
    Seq((i.toDouble, true), (i.toDouble, false))).toDF("x", "ref")

  test("psi: identical windows score zero in every bin") {
    val out = Drift.psi(samePop, "x", col("ref")).collect()
    assert(out.length === 10)
    assert(out.forall(_.getAs[Double]("psi_term") === 0.0))
    assert(out.forall(r => r.getAs[Long]("n_ref") === r.getAs[Long]("n_cur")))
  }

  test("psi: a shifted current window scores above the 0.2 alarm rule") {
    // current = reference + 60% of range: mass leaves the low deciles
    val df = (1 to 400).map(d => (d.toDouble, true)) ++
      (1 to 400).map(d => (d.toDouble + 240.0, false))
    val out = Drift.psi(df.toDF("x", "ref"), "x", col("ref")).collect()
    val total = out.map(_.getAs[Double]("psi_term")).sum
    assert(total > 0.2, s"shift must trip the PSI alarm, got $total")
    // low bins drained: the bin-0 term must be positive (p_cur << p_ref)
    assert(out.find(_.getAs[Int]("bin") == 0).get
      .getAs[Double]("psi_term") > 0.0)
  }

  test("ks: identical windows have zero statistic, disjoint windows ~1") {
    val same = Drift.ksDrift(samePop, "x", col("ref")).collect().head
    assert(same.getAs[Double]("ks_stat") === 0.0)
    val disjoint = ((1 to 300).map(d => (d.toDouble, true)) ++
      (1 to 300).map(d => (d.toDouble + 1000.0, false)))
      .toDF("x", "ref")
    val ks = Drift.ksDrift(disjoint, "x", col("ref")).collect().head
    assert(ks.getAs[Double]("ks_stat") > 0.99,
      s"disjoint supports must max the ECDF gap: $ks")
  }

  test("chi2: same mix scores zero; a swapped mix scores per category") {
    val same = ((1 to 90).map(_ => ("a", true)) ++
      (1 to 30).map(_ => ("b", true)) ++
      (1 to 90).map(_ => ("a", false)) ++
      (1 to 30).map(_ => ("b", false))).toDF("c", "ref")
    val z = Drift.chi2Drift(same, "c", col("ref")).collect()
    assert(z.forall(_.getAs[Double]("chi2_term") === 0.0))

    // 90/30 vs 30/90: chi-squared term per category = 2 * (30^2/60) = 30
    val moved = ((1 to 90).map(_ => ("a", true)) ++
      (1 to 30).map(_ => ("b", true)) ++
      (1 to 30).map(_ => ("a", false)) ++
      (1 to 90).map(_ => ("b", false))).toDF("c", "ref")
    val m = Drift.chi2Drift(moved, "c", col("ref")).collect()
      .map(r => r.getAs[String]("category") -> r.getAs[Double]("chi2_term"))
      .toMap
    assert(m("a") === 30.0 && m("b") === 30.0)
  }

  test("graded entries run on sf0.001 with full bin/category coverage") {
    val psiOut = SparkEntry.queries("a41_psi_drift")(spark, sf001).collect()
    assert(psiOut.length === 10)
    val ks = SparkEntry.queries("a42_ks_drift")(spark, sf001).collect()
    assert(ks.length === 1 && ks.head.getAs[Double]("ks_stat") >= 0.0)
    val chi = SparkEntry.queries("a43_chi2_drift")(spark, sf001).collect()
    assert(chi.length === 5) // one row per event type
  }

  test("ab test: hand-built arms reproduce the closed-form z statistic") {
    // arm 0 (even uids): 4 exposed, 1 converts; arm 1 (odd): 4 exposed,
    // 3 convert; one unexposed user (uid 9) must not count anywhere
    val events = (
      Seq((2L, "view"), (4L, "view"), (6L, "view"), (8L, "view"),
        (2L, "purchase"),
        (1L, "view"), (3L, "view"), (5L, "view"), (7L, "view"),
        (1L, "purchase"), (3L, "purchase"), (5L, "purchase"),
        (9L, "purchase"))
      ).toDF("user_id", "event_type")
    val r = Drift.abTest(events, "user_id", "event_type",
      "view", "purchase").collect().head
    assert(r.getAs[Long]("n_a") === 4L && r.getAs[Long]("conv_a") === 1L)
    assert(r.getAs[Long]("n_b") === 4L && r.getAs[Long]("conv_b") === 3L)
    val p = 4.0 / 8
    val se = math.sqrt(p * (1 - p) * (1.0 / 4 + 1.0 / 4))
    val z = BigDecimal(0.5 / se).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z_stat") === z)
    assert(!r.getAs[Boolean]("significant")) // |z| ~ 1.41 < 1.96
  }

  test("calibration bins: a perfectly calibrated score matches its rate") {
    // 8 rows at score .25 with 2 positives (25%); 4 at .75 with 3 (75%)
    val data = ((1 to 8).map(i => (0.25, i <= 2)) ++
      (1 to 4).map(i => (0.75, i <= 3))).toDF("s", "y")
    val out = Drift.calibrationBins(data, col("s"), col("y"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out === Map(2 -> ((8L, 0.25, 0.25)), 7 -> ((4L, 0.75, 0.75))))
  }

  test("importance weights: identity shift weighs ~1, planted shift reweighs") {
    // identical distributions in both windows -> every bin's density ratio
    // is 1 up to decile-boundary granularity
    val same = (0 until 1000).map(i => (i < 500, (i % 100).toDouble))
      .toDF("is_ref", "v")
    val idw = Drift.importanceWeights(same, "v", col("is_ref"))
      .collect().map(_.getDouble(3))
    idw.foreach(w => assert(w > 0.8 && w < 1.25, s"identity weight $w"))
    // current window collapses onto the lower half of the reference
    // support: lower bins are overrepresented (w < 1), upper bins empty
    // (w capped by the epsilon floor, >> 1)
    val shifted = ((0 until 500).map(i => (true, (i % 100).toDouble)) ++
      (0 until 500).map(i => (false, (i % 50).toDouble)))
      .toDF("is_ref", "v")
    val sw = Drift.importanceWeights(shifted, "v", col("is_ref"))
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(sw(0) < 0.7, s"overrepresented low bin must downweight: ${sw(0)}")
    assert(sw(9) > 1000.0, s"empty high bin must hit the floor cap: ${sw(9)}")
  }
}
