package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec

/** Bit-equality pins for the r14 native exact kernels against the builtin
  * chains they replace: any divergence — rounding, ties, null semantics,
  * overflow, ordering — fails here before an oracle ever sees it. */
class NativeAggEqualitySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  /** Adversarial doubles: money-like, half-way ties, full-precision noise
    * across magnitudes, signs, exact zeros, subnormals. */
  private def adversarial(n: Int): Seq[java.lang.Double] = {
    val out = Seq.newBuilder[java.lang.Double]
    for (i <- 0 until n) {
      val d: Double = (i % 10) match {
        case 0 => math.round(rnd.nextDouble() * 1e7) / 100.0          // money
        case 1 => (rnd.nextInt(2000001) - 1000000) / 2.0 * 1e-6       // .5 ties at scale 6
        case 2 => rnd.nextDouble() * math.pow(10, rnd.nextInt(28) - 14)
        case 3 => -rnd.nextDouble() * math.pow(10, rnd.nextInt(28) - 14)
        case 4 => rnd.nextLong().toDouble
        case 5 => java.lang.Double.longBitsToDouble(rnd.nextLong()) match {
          case x if x.isNaN || x.isInfinite => 1.5e-9
          case x => x
        }
        case 6 => 0.0
        case 7 => rnd.nextInt(1000).toDouble
        case 8 => 5e-7 * rnd.nextInt(100)                              // exact ties
        case _ => math.pow(10.0, rnd.nextInt(24) - 12)
      }
      out += d
    }
    out.result()
  }

  private def withNulls(xs: Seq[java.lang.Double]): Seq[java.lang.Double] =
    xs.zipWithIndex.map { case (x, i) => if (i % 13 == 0) null else x }

  private def mkDf(xs: Seq[java.lang.Double], groups: Int): DataFrame =
    xs.zipWithIndex.map { case (x, i) => (i % groups, x) }
      .toDF("g", "x").repartition(4)

  private def assertSameRows(a: DataFrame, b: DataFrame, tag: String): Unit = {
    val ra = a.collect().toSeq
    val rb = b.collect().toSeq
    assert(ra.length == rb.length, s"$tag: row counts ${ra.length} vs ${rb.length}")
    ra.zip(rb).foreach { case (x, y) => assert(x == y, s"$tag: $x vs $y") }
  }

  private val decCases = Seq((18, 2), (24, 6), (30, 6), (32, 8), (38, 12), (20, 10))

  test("graft_dec_sum equals sum(cast(x as decimal(p,s))) on adversarial data") {
    val base = withNulls(adversarial(4000)) ++
      Seq[java.lang.Double](Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 4.9e-324, Double.MinPositiveValue)
    for ((p, s) <- decCases) {
      // keep every value inside decimal(p,s): under ANSI (the session
      // default) a cast overflow throws in BOTH implementations — the
      // error path has its own test below
      val bound = math.pow(10.0, p - s) / 2
      val data = base.map(x =>
        if (x != null && !x.isNaN && !x.isInfinite && math.abs(x) >= bound) null else x)
      val df = mkDf(data, 7)
      val builtin = df.groupBy("g")
        .agg(sum(col("x").cast(DecimalType(p, s))).as("s")).orderBy("g")
      val native = df.groupBy("g")
        .agg(call_function("graft_dec_sum", col("x"), lit(p), lit(s)).as("s"))
        .orderBy("g")
      assertSameRows(builtin, native, s"dec_sum($p,$s)")
    }
  }

  test("graft_dec_sum: null/NaN/∞ groups and empty input match; ANSI overflow throws in both") {
    val df = Seq[(Int, java.lang.Double)](
      (0, null), (0, null),
      (1, Double.NaN), (1, Double.PositiveInfinity),  // cast → null → all-null group
      (2, 1.25), (2, null)
    ).toDF("g", "x")
    val builtin = df.groupBy("g")
      .agg(sum(col("x").cast(DecimalType(24, 6))).as("s")).orderBy("g")
    val native = df.groupBy("g")
      .agg(call_function("graft_dec_sum", col("x"), lit(24), lit(6)).as("s"))
      .orderBy("g")
    assertSameRows(builtin, native, "dec_sum null groups")
    val empty = spark.range(0).select(col("id").cast(DoubleType).as("x"))
    val b2 = empty.agg(sum(col("x").cast(DecimalType(24, 6)))).collect()
    val n2 = empty.agg(call_function("graft_dec_sum", col("x"), lit(24), lit(6))).collect()
    assert(b2.head.isNullAt(0) && n2.head.isNullAt(0))
    // overflow under ANSI (the session default): both implementations error
    val ovf = Seq[java.lang.Double](1e30).toDF("x")
    val bt = scala.util.Try(ovf.agg(sum(col("x").cast(DecimalType(18, 2)))).collect())
    val nt = scala.util.Try(
      ovf.agg(call_function("graft_dec_sum", col("x"), lit(18), lit(2))).collect())
    assert(bt.isFailure && nt.isFailure, s"overflow: builtin=$bt native=$nt")
  }

  test("graft_dec_sum plans as codegen HashAggregate at every precision") {
    // narrow (Ops.dsum) and wide (Ops.dsumWide) sums
    // alike aggregate in the unsafe-map HashAggregateExec — no
    // ObjectHashAggregate 128-distinct-key sort fallback on grouped paths
    // at scale
    val df = mkDf(adversarial(200).map(x =>
      if (x != null && !x.isNaN && !x.isInfinite && math.abs(x) >= 1e8) null
      else x), 7)
    def planOf(p: Int, s: Int) = df.groupBy("g")
      .agg(call_function("graft_dec_sum", col("x"), lit(p), lit(s)).as("s"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    for ((p, s) <- Seq((18, 2), (30, 6))) {
      val plan = planOf(p, s)
      assert(plan.contains("HashAggregate") &&
        !plan.contains("ObjectHashAggregate"), s"($p, $s) plan:\n$plan")
    }
  }

  test("graft_dec_sum non-ANSI: per-value cast overflow null-skips in both") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val df = Seq[(Int, java.lang.Double)](
        (0, 1.25), (0, 1e30), (0, 2.5),        // 1e30 casts null -> skipped
        (1, 1e30), (1, Double.NaN)             // all-null group
      ).toDF("g", "x")
      val builtin = df.groupBy("g")
        .agg(sum(col("x").cast(DecimalType(18, 2))).as("s")).orderBy("g")
      val native = df.groupBy("g")
        .agg(call_function("graft_dec_sum", col("x"), lit(18), lit(2)).as("s"))
        .orderBy("g")
      assertSameRows(builtin, native, "dec_sum non-ansi cast overflow")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("graft_dec_sum DECIMAL(38,0) near the 38-digit edge equals the builtin") {
    // wide mantissas near 10^38: the running sum passes 2^127 and must come
    // back exact, and a true sum past 38 digits must fail the result's
    // CheckOverflow as the builtin's does (ANSI throw / else null)
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    def sums(xs: Seq[Double]): (scala.util.Try[Row], scala.util.Try[Row]) = {
      val df = xs.map(x => x: java.lang.Double).toDF("x").coalesce(1)
      (scala.util.Try(df.agg(sum(col("x").cast(DecimalType(38, 0)))).head()),
        scala.util.Try(df.agg(call_function("graft_dec_sum", col("x"), lit(38), lit(0))).head()))
    }
    val exact = new java.math.BigDecimal("99000000000000000000000000000000000000")
    try for (ansi <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val (b, n) = sums(Seq(9.9e37, 9.9e37, -9.9e37))
      assert(b.get.getDecimal(0) == exact, s"ansi=$ansi builtin: $b")
      assert(n.get.getDecimal(0) == exact, s"ansi=$ansi native: $n")
      // the second sum is ~2^128 + 1.7e22: a buffer that wrapped at 2^128
      // would return the 23-digit remainder instead of overflowing
      for (xs <- Seq(Seq(9.9e37, 9.9e37), Seq.fill(4)(8.507059173023462e37))) {
        val (bo, no) = sums(xs)
        if (ansi == "true") {
          def arithmetic(t: scala.util.Try[Row]) = t.failed.toOption.exists(e =>
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .exists(_.isInstanceOf[ArithmeticException]))
          assert(arithmetic(bo) && arithmetic(no), s"$xs: builtin=$bo native=$no")
        } else {
          assert(bo.get.isNullAt(0) && no.get.isNullAt(0), s"$xs: builtin=$bo native=$no")
        }
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("graft_dec_sum over integral input equals the builtin at every width") {
    // l * 10^s: the long fast path, and past Long.MaxValue / 10^s the
    // BigDecimal fallback (1e17 at scale 6; Long.MaxValue at scale 10)
    val big = Seq[java.lang.Long](Long.MaxValue, Long.MinValue, 1L << 40, -7L, 0L, null)
    val mid = Seq[java.lang.Long](100000000000000000L, -100000000000000000L, 12345L, null)
    for ((xs, p, s) <- Seq((big, 38, 10), (mid, 24, 6), (mid, 18, 0))) {
      val df = xs.zipWithIndex.map { case (x, i) => (i % 2, x) }.toDF("g", "x")
      val builtin = df.groupBy("g")
        .agg(sum(col("x").cast(DecimalType(p, s))).as("s")).orderBy("g")
      val native = df.groupBy("g")
        .agg(call_function("graft_dec_sum", col("x"), lit(p), lit(s)).as("s"))
        .orderBy("g")
      assertSameRows(builtin, native, s"dec_sum long ($p,$s)")
    }
  }

  test("graft_dec_sum survives the shuffle (partial/merge path) identically") {
    val bound = math.pow(10.0, 30 - 6) / 2
    val data = withNulls(adversarial(2000)).map(x =>
      if (x != null && !x.isNaN && !x.isInfinite && math.abs(x) >= bound) null else x)
    // many groups force real partial buffers through the Exchange
    val df = mkDf(data, 301)
    val builtin = df.groupBy("g")
      .agg(sum(col("x").cast(DecimalType(30, 6))).as("s")).orderBy("g")
    val native = df.groupBy("g")
      .agg(call_function("graft_dec_sum", col("x"), lit(30), lit(6)).as("s"))
      .orderBy("g")
    assertSameRows(builtin, native, "dec_sum sharded")
  }

  private val pcts = Seq(0.0, 0.25, 0.37, 0.5, 0.75, 0.95, 1.0)

  test("graft_percentile equals percentile(x, p) on adversarial data") {
    val variants = Seq(
      "ties" -> (0 until 3000).map(i => (i % 17).toDouble: java.lang.Double),
      "distinct" -> adversarial(3000),
      "mixed-null" -> withNulls(adversarial(1000)),
      "single" -> Seq[java.lang.Double](42.5),
      "two" -> Seq[java.lang.Double](-1.0, 2.0),
      "with-nan" -> (adversarial(50) ++ Seq[java.lang.Double](Double.NaN, Double.NaN)))
    for ((tag, data) <- variants; p <- pcts) {
      val df = mkDf(data, 5)
      val builtin = df.groupBy("g")
        .agg(percentile(col("x"), lit(p)).as("q")).orderBy("g")
      val native = df.groupBy("g")
        .agg(call_function("graft_percentile", col("x"), lit(p)).as("q"))
        .orderBy("g")
      assertSameRows(builtin, native, s"percentile($tag, $p)")
    }
  }

  test("graft_percentile array form equals percentile(x, array(...))") {
    val data = withNulls(adversarial(2000))
    val df = mkDf(data, 4)
    val parr = array(pcts.map(lit): _*)
    val builtin = df.groupBy("g")
      .agg(percentile(col("x"), parr).as("q")).orderBy("g")
    val native = df.groupBy("g")
      .agg(call_function("graft_percentile", col("x"), parr).as("q"))
      .orderBy("g")
    assertSameRows(builtin, native, "percentile array")
  }

  test("DoubleCountMap bulk merge in slot order: exact counts, no quadratic blow-up") {
    // r15: both maps slice the SAME Fibonacci hash from the top, so a
    // donor's slot-order iteration is monotone in the receiver's home
    // slots; merging into an under-sized receiver that grows mid-stream
    // formed one gap-free run every insert probed to the end of — a
    // measured 20-40× merge blow-up at 600k keys (a10_percentile_approx
    // 0.7 → 8.4 s). merge() now pre-sizes via reserve(). This pins both
    // the semantics (counts are exact) and the order of magnitude (a
    // reintroduced quadratic costs minutes at this size, the fixed path
    // well under a second).
    val n = 1000000
    def mkPart(seed: Int): DoubleCountMap = {
      val r = new java.util.Random(seed)
      val m = new DoubleCountMap
      var i = 0
      while (i < n) {
        m.add(java.lang.Double.doubleToLongBits(
          math.rint(r.nextDouble() * 1e7) / 100.0), 1L)
        i += 1
      }
      m
    }
    val parts = Seq(mkPart(1), mkPart(2), mkPart(3))
    val expected = parts.map { p =>
      var s = 0L; p.foreach((_, c) => s += c); s
    }.sum
    val agg = PercentileAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0.0),
      Seq(0.5), returnArray = false)
    val t0 = System.nanoTime()
    val merged = parts.foldLeft(new DoubleCountMap)((acc, p) => agg.merge(acc, p))
    val elapsed = (System.nanoTime() - t0) / 1e9
    var total = 0L
    merged.foreach((_, c) => total += c)
    assert(total == expected, s"merged count $total != $expected")
    // spot-check per-key counts against a reference hash map
    val ref = new java.util.HashMap[Long, Long]()
    parts.foreach(_.foreach((b, c) => ref.merge(b, c, _ + _)))
    assert(merged.size == ref.size)
    var checked = 0
    val it = ref.entrySet().iterator()
    while (it.hasNext && checked < 1000) {
      val e = it.next()
      assert(merged.getCount(e.getKey) == e.getValue)
      checked += 1
    }
    assert(elapsed < 20.0,
      f"slot-order bulk merge took $elapsed%.1f s — quadratic clustering is back")
  }

  test("graft_percentile: all-null group and empty input yield null") {
    val df = Seq[(Int, java.lang.Double)]((0, null), (0, null), (1, 3.5))
      .toDF("g", "x")
    val builtin = df.groupBy("g").agg(percentile(col("x"), lit(0.5)).as("q")).orderBy("g")
    val native = df.groupBy("g")
      .agg(call_function("graft_percentile", col("x"), lit(0.5)).as("q")).orderBy("g")
    assertSameRows(builtin, native, "percentile nulls")
  }

  // the exact HOF chain kmeansLloyd used before the kernel
  private def hofSqDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(
      zip_with(a, b, (x, y) =>
        round((x - y) * (x - y), 12).cast(DecimalType(26, 12))),
      lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 12)),
      (acc, t) => (acc + t).cast(DecimalType(38, 12))).cast(DoubleType)

  test("graft_sqdist_dec equals the decimal HOF fold") {
    val vecs: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] =
      (0 until 400).map { i =>
        val dim = Seq(4, 16, 64)(i % 3)
        def v() = (0 until dim).map { _ =>
          val x: Double = rnd.nextInt(4) match {
            case 0 => rnd.nextGaussian()
            case 1 => math.round(rnd.nextGaussian() * 1e6) / 1e6
            case 2 => rnd.nextDouble() * 1e4
            case _ => -rnd.nextDouble() * 1e-6
          }
          x: java.lang.Double
        }
        (v(), v())
      }
    val df = vecs.toDF("a", "b")
    val hof = df.select(hofSqDist(col("a"), col("b")).as("d")).collect()
    val nat = df.select(call_function("graft_sqdist_dec", col("a"), col("b")).as("d"))
      .collect()
    hof.zip(nat).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }

  // the composed HOF chain the PQ sites used before the native kernels
  private def hofCodes(cbS: Seq[Seq[Seq[Double]]], vcol: org.apache.spark.sql.Column) = {
    val m = cbS.length; val sub = cbS.head.head.length
    val cb = typedLit(cbS)
    transform(sequence(lit(0), lit(m - 1)), s => {
      val dists = transform(element_at(cb, (s + lit(1)).cast(IntegerType)),
        ctr => aggregate(
          zip_with(slice(vcol, s * lit(sub) + lit(1), lit(sub)), ctr,
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, t) => acc + t))
      (array_position(dists, array_min(dists)) - 1).cast(IntegerType)
    })
  }
  private def hofTable(cbS: Seq[Seq[Seq[Double]]], vcol: org.apache.spark.sql.Column) = {
    val m = cbS.length; val sub = cbS.head.head.length
    val cb = typedLit(cbS)
    transform(sequence(lit(0), lit(m - 1)), s =>
      transform(element_at(cb, (s + lit(1)).cast(IntegerType)),
        ctr => aggregate(
          zip_with(slice(vcol, s * lit(sub) + lit(1), lit(sub)), ctr,
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, t) => acc + t)))
  }

  test("graft_pq_encode / graft_pq_table equal the composed HOF chain") {
    val m = 4; val sub = 4; val nCodes = 7
    val cbS: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      (0 until nCodes).map { c =>
        (0 until sub).map(i => rnd.nextGaussian() + (if (c == 3) 0.0 else c * 0.1))
      }
    }
    // include exact-tie codebooks rows (codes 3 and 5 identical in subspace 0)
    val cbTie = cbS.updated(0, cbS(0).updated(5, cbS(0)(3)))
    for (book <- Seq(cbS, cbTie)) {
      val vecs = (0 until 300).map { _ =>
        (0 until m * sub).map(_ => rnd.nextGaussian(): java.lang.Double)
      }
      val df = vecs.toDF("v")
      val cbLit = typedLit(book)
      val hof = df.select(hofCodes(book, col("v")).as("c"),
        hofTable(book, col("v")).as("t")).collect()
      val nat = df.select(
        call_function("graft_pq_encode", col("v"), cbLit).as("c"),
        call_function("graft_pq_table", col("v"), cbLit).as("t")).collect()
      hof.zip(nat).foreach { case (x, y) =>
        assert(x.getSeq[Int](0) == y.getSeq[Int](0), s"codes: $x vs $y")
        assert(x.getSeq[Seq[Double]](1) == y.getSeq[Seq[Double]](1), s"table: $x vs $y")
      }
    }
    // null vector → null both ways
    val dfn = Seq[Seq[java.lang.Double]](null).toDF("v")
    val natn = dfn.select(
      call_function("graft_pq_encode", col("v"), typedLit(cbS)).as("c")).collect()
    assert(natn.head.isNullAt(0))
  }

  test("graft_sqdist_dec non-finite elements match the HOF chain (→ null)") {
    // ADVICE r14: NaN/∞ never flowed through the kernel's fast path in the
    // old pins. The chain's behavior is round(NaN/∞, 12) → NaN/∞, then
    // cast(… as decimal(26,12)) → null element → null fold; the kernel must
    // return null, not parse "NaN" as digits or throw on valueOf(∞). The
    // last row squares two FINITE elements into ∞ — same path.
    val df = Seq(
      (Seq[java.lang.Double](1.0, Double.NaN), Seq[java.lang.Double](1.0, 2.0)),
      (Seq[java.lang.Double](Double.PositiveInfinity, 1.0),
        Seq[java.lang.Double](0.0, 1.0)),
      (Seq[java.lang.Double](Double.NegativeInfinity, 1.0),
        Seq[java.lang.Double](0.0, 1.0)),
      (Seq[java.lang.Double](1.0, Double.NaN), Seq[java.lang.Double](1.0, Double.NaN)),
      (Seq[java.lang.Double](1e200, 0.0), Seq[java.lang.Double](-1e200, 0.0))
    ).toDF("a", "b")
    val hof = df.select(hofSqDist(col("a"), col("b")).as("d")).collect()
    val nat = df.select(call_function("graft_sqdist_dec", col("a"), col("b")).as("d"))
      .collect()
    hof.zip(nat).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
    assert(nat.forall(_.isNullAt(0)))
  }

  test("graft_pq_encode degenerate shapes: null-element vector → NULL row (pinned contract)") {
    // ADVICE r14, intentional divergence from the composed chain: a vector
    // with null elements made the chain produce an array of null codes
    // (array_position(dists, null)), while the kernel declares the whole
    // codes column NULL with containsNull=false. The pinned contract for
    // graded inputs is "degenerate shape → NULL row"; this test keeps the
    // divergence deliberate rather than accidental.
    val m = 2; val sub = 2; val nCodes = 3
    val cbS: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      (0 until nCodes).map { c => (0 until sub).map(_ => c * 1.0 + s) }
    }
    val dfn = Seq(Seq[java.lang.Double](null, null, null, null)).toDF("v")
    val natn = dfn.select(
      call_function("graft_pq_encode", col("v"), typedLit(cbS)).as("c"),
      call_function("graft_pq_table", col("v"), typedLit(cbS)).as("t")).collect()
    assert(natn.head.isNullAt(0) && natn.head.isNullAt(1))
  }

  test("graft_sqdist_dec null semantics match zip_with padding") {
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),          // length mismatch
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),    // null element
      (null, Seq[java.lang.Double](1.0))                                      // null array
    ).toDF("a", "b")
    val hof = df.select(hofSqDist(col("a"), col("b")).as("d")).collect()
    val nat = df.select(call_function("graft_sqdist_dec", col("a"), col("b")).as("d"))
      .collect()
    hof.zip(nat).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
    assert(nat.forall(_.isNullAt(0)))
  }
}
