package graft

import Verify.q

/** Scaling-slope gate (VERDICT r7 missing-item 2): every 100-TB claim in
  * this library rests on plan shape; this main MEASURES the shape instead.
  * Each headline query runs at two scale factors (default sf0.01 and sf0.1
  * — a 10× data ratio) and the artifact reports the observed time ratio.
  *
  * Reading the ratio: a linear operator with fixed per-query overhead c
  * obeys t = c + k·d, so its ratio sits anywhere in [1, 10] — near 1 when
  * overhead-dominated (sub-second queries are mostly scheduler latency),
  * approaching 10 when data-dominated. n·log n adds a few percent. A
  * candidate-quadratic operator lands near 100. The gate therefore flags
  * ratio > `gate` (default 20 — comfortably above linear+log+noise, far
  * below quadratic) AND t(big) > 1 s (a sub-second query can't be
  * data-dominated enough for its ratio to mean anything).
  *
  * Timing discipline matches Bench: noop-sink materialization, untimed
  * warm-up per scale factor, whole-suite passes (repeats spread minutes
  * apart), min per query, cache cleared between queries. Runs the SMALL sf
  * first so JVM/codegen warmup lands away from the big-sf numbers.
  *
  * Emits one JSON line:
  * `{"metric":"slope","sf_small":…,"sf_big":…,"gate":20,"queries":{name:
  * {"t_small":s,"t_big":s,"ratio":r}},"flagged":{name:ratio},…}`
  * and exits non-zero if anything is flagged — so the gate can sit in a
  * script, not in prose.
  */
object Slope {
  def main(args: Array[String]): Unit = {
    val sfSmall = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val sfBig = sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/testdata/sf0.1")
    val gate = sys.env.getOrElse("SPARK_GRAFT_SLOPE_GATE", "20.0").toDouble
    val repeats = sys.env.getOrElse("SPARK_GRAFT_SLOPE_REPEATS", "2").toInt.max(1)
    val spark = GraftSession.local(Bench.cpus, Bench.cpus)

    val names = SparkEntry.headline
    var errors = Map.empty[String, String]
    val samples = scala.collection.mutable.Map.empty[(String, String), List[Double]]
    for (sf <- Seq(sfSmall, sfBig)) {
      Bench.warmUp(spark, sf) // untimed, per scale factor
      for (_ <- 1 to repeats; name <- names if !errors.contains(name))
        Bench.timeOnce(spark, sf, name) match {
          case Right(t) => samples((name, sf)) = t :: samples.getOrElse((name, sf), Nil)
          case Left(err) => errors += name -> err
        }
    }
    def r4(v: Double) = math.round(v * 10000.0) / 10000.0
    val rows = names.filterNot(errors.contains).map { n =>
      val tS = samples((n, sfSmall)).min
      val tB = samples((n, sfBig)).min
      (n, r4(tS), r4(tB), r4(tB / tS))
    }
    val flagged = rows.collect { case (n, _, tB, ratio) if ratio > gate && tB > 1.0 => n -> ratio }
    val qJson = rows.map { case (n, tS, tB, ratio) =>
      s"${q(n)}:{\"t_small\":$tS,\"t_big\":$tB,\"ratio\":$ratio}"
    }.mkString("{", ",", "}")
    val fJson = flagged.map { case (n, r) => s"${q(n)}:$r" }.mkString("{", ",", "}")
    val es = errors.toSeq.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    // teardown BEFORE the result lines so streaming shutdown noise cannot
    // push them out of a tail-capture window (VERDICT r10 wrong-item 1)
    QuietShutdown(spark)
    println(s"""{"metric":"slope","sf_small":${q(sfSmall)},"sf_big":${q(sfBig)},"gate":$gate,"runs":$repeats,"n_queries":${rows.length},"queries":$qJson,"flagged":$fJson,"errors":$es}""")
    println(s"""{"metric":"slope","n_queries":${rows.length},"n_flagged":${flagged.length},"n_errors":${errors.size},"detail":"per-query map on previous line"}""")
    if (flagged.nonEmpty || errors.nonEmpty) sys.exit(1)
  }
}
