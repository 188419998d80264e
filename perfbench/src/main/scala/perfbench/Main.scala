package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's single entry point:
  *
  * {{{
  * Main --workload <taxi_month_dag|dashboard_mix|curation_rounds> --seed <n>
  *      --seconds <s> --trace <0|1>
  * }}}
  *
  * Set-up (timed as `setup_s`): the median of three session starts plus
  * input generations, then one untimed warm-up pass that also checks
  * outputs. Measurement: whole passes until `seconds` have elapsed (and
  * the workload's minimum pass count is met), tracing off. With
  * `--trace 1` a second, traced measurement follows; it writes the span
  * file and reports per-layer figures. The last stdout line is the JSON
  * result.
  */
object Main {
  val Workloads = Seq("taxi_month_dag", "dashboard_mix", "curation_rounds")
  val DashboardEntries = Seq("a1_kpi_global", "a4_daily_series", "a5_two_key_group",
    "a6_group_sum_desc", "a9_multistat", "a10_percentile_approx", "a11_error_buckets",
    "j2_fact_join", "j4_star_join", "j5_anti_join", "t3_topk_rank", "w2_running_sum",
    "u1_union_distinct", "s7_sql_views", "a16_rollup")
  val CurationEntries = Seq("dedup_components", "g6_bfs_layers")
  /** Measured passes (at least; more if `--seconds` has not yet passed).
    * Curation's first measured pass still costs ~10% more CPU than later
    * ones while the JIT catches up, and its passes are short, so it takes
    * the median of three. */
  val MeasuredPasses = Map("taxi_month_dag" -> 1, "dashboard_mix" -> 2, "curation_rounds" -> 3)
  /** Rows in the synthetic taxi month. */
  val TaxiRows = 20000L
  val DataDir = "data/sf0.01"
  val ExpectedFile = "expected_sf0.01.json"
  val WorkDir = "target/bench"

  /** The percentile reported as `tail_s` for query workloads: with two
    * passes of 15 queries, at least ten samples lie beyond it. */
  val TailPercentile = 65

  var probe: Probe = _

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    require(new java.io.File(ExpectedFile).isFile && new java.io.File(DataDir).isDirectory,
      "run from the benchmark directory")
    val cores = Runtime.getRuntime.availableProcessors()
    val workDir = new java.io.File(s"$WorkDir/$workload").getAbsolutePath

    lazy val expectedHashes = expected()
    probe = new Probe
    var spark: SparkSession = null
    var trace: Trace = null
    var wl: Workload = null
    var inputBytes = 0L

    // set-up, three times: session start + input generation
    val setupSamples = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, cores, "perfbench")
      trace = new Trace(probe, spark.sparkContext)
      wl = workload match {
        case "taxi_month_dag" => new TaxiMonthDag(seed, TaxiRows, cores, trace, workDir)
        case "dashboard_mix" => new RegistryWorkload("registry.analytics", DashboardEntries, seed,
          new java.io.File(DataDir).getAbsolutePath, expectedHashes, trace)
        case _ => new RegistryWorkload("registry.curation", CurationEntries, seed,
          new java.io.File(DataDir).getAbsolutePath, expectedHashes, trace)
      }
      inputBytes = wl.prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    sc.addSparkListener(probe)
    val warm = wl.pass(spark, 0)
    val setupS = median(setupSamples) + warm.seconds

    // a fixed pass count, so every run takes its median at the same point
    // of the JVM's warm-up; dashboard's tail needs 30 query samples
    val minPasses = MeasuredPasses(workload)
    def measure(): (Seq[PassResult], Counts, Double, Double) = {
      Probe.resetPeakHeap()
      val c0 = probe.snapshot(sc)
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[PassResult]
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (passes.size < minPasses || elapsed < seconds) {
        trace.runId = s"$workload-$seed-${passes.size + 1}"
        passes += trace("bench/pass")(wl.pass(spark, passes.size + 1))
      }
      val wall = elapsed
      (passes.toSeq, probe.snapshot(sc) - c0, wall, Probe.peakHeapMb())
    }

    val (passes, counts, wall, peakMb) = measure()
    val all = warm +: passes
    val attempted = all.map(_.ops.size).sum
    val failed = all.map(_.ops.count(_.failed.nonEmpty)).sum
    val n = passes.size.toDouble
    val opSeconds = passes.flatMap(_.ops.map(_.seconds)).sorted

    // Declared end-to-end metrics: set-up wall time, and the compute a pass
    // costs. Wall times of passes are reported below but not declared: on a
    // shared host they spread 3-4x wider than CPU seconds (README, "Metrics").
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "cpu_s" -> (median(passes.map(_.cpuSeconds)), "s"),
      "etl_cpu_s" -> (median(passes.map(p => p.cpuSeconds - p.mlCpuSeconds)), "s"))
    val walls = mutable.LinkedHashMap[String, (Double, String)](
      "wall_s" -> (median(passes.map(_.seconds)), "s"),
      "etl_s" -> (median(passes.map(p => p.seconds - p.mlSeconds)), "s"),
      "p50_s" -> (percentile(opSeconds, 50), "s"),
      "tail_s" -> ((if (workload == "dashboard_mix") percentile(opSeconds, TailPercentile)
        else median(passes.map(_.ops.map(_.seconds).max))), "s"),
      "ops_per_s" -> (opSeconds.size / wall, "1/s"))

    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    for (k <- LayerMetrics) perLayer(k._1) = (0.0, k._2)
    passes.flatMap(_.layer.keys).distinct.foreach { k =>
      perLayer(k) = (median(passes.map(_.layer.getOrElse(k, 0.0))), perLayer.get(k).map(_._2).getOrElse("s"))
    }
    CurationEntries.foreach { e =>
      perLayer(s"curation.$e.jobs") = (counts.jobsByGroup.getOrElse(e, 0L) / n, "count")
    }
    perLayer ++= Seq(
      "spark.jobs" -> (counts.jobs / n, "count"),
      "spark.stages" -> (counts.stages / n, "count"),
      "spark.tasks" -> (counts.tasks / n, "count"),
      "spark.failed_tasks" -> (counts.failedTasks / n, "count"),
      "spark.executor_run_s" -> (counts.runMs / 1e3 / n, "s"),
      "spark.executor_cpu_s" -> (counts.cpuNs / 1e9 / n, "s"),
      "spark.task_wait_s" -> (counts.waitMs / 1e3 / n, "s"),
      "spark.parallel_eff" -> (counts.runMs / 1e3 / (wall * cores), "share"),
      "spark.task_max_over_median" ->
        ((if (counts.skewStages > 0) counts.skewSum / counts.skewStages else 1.0), "ratio"),
      "spark.shuffle_read_bytes" -> (counts.shuffleRead / n, "bytes"),
      "spark.shuffle_write_bytes" -> (counts.shuffleWrite / n, "bytes"),
      "spark.spill_bytes" -> (counts.spill / n, "bytes"),
      "spark.codegen_compiles" -> (counts.codegenCompiles / n, "count"),
      "jvm.gc_s" -> (counts.gcMs / 1e3 / n, "s"),
      "jvm.jit_s" -> (counts.jitMs / 1e3 / n, "s"),
      "jvm.peak_heap_mb" -> (peakMb, "MiB"))

    if (traced) {
      trace.enabled = true
      val (tPasses, _, _, _) = measure()
      trace.enabled = false
      val spanFile = java.nio.file.Paths.get(s"$WorkDir/trace/$workload-seed$seed.spans.jsonl")
      trace.write(spanFile)
      val self = trace.selfSeconds
      TraceLayers.foreach(l => perLayer(s"self.${l}_s") = (self.getOrElse(l, 0.0) / tPasses.size, "s"))
      val overhead = median(tPasses.map(_.seconds)) - walls("wall_s")._1
      perLayer("trace.overhead_s") = (overhead, "s")
      perLayer("trace.overhead_share") = (overhead / walls("wall_s")._1, "share")
      println(s"# span file: $spanFile (${trace.all.size} spans, ${tPasses.size} traced passes)")
    }

    // report lines, then the result as the last line
    val facts = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "nproc" -> cores.toString,
      "shuffle_partitions" -> sc.getConf.get("spark.sql.shuffle.partitions", "?"),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_version" -> s""""${spark.version}"""", "input_bytes" -> inputBytes.toString,
      "setup_samples_s" -> setupSamples.map(x => f"$x%.3f").mkString("[", ", ", "]"),
      "warm_pass_s" -> f"${warm.seconds}%.3f", "measure_s" -> f"$wall%.3f",
      "passes" -> passes.size.toString, "op_samples" -> opSeconds.size.toString,
      "tail_rule" -> (if (workload == "dashboard_mix") s""""p$TailPercentile of query latencies""""
        else "\"slowest operation per pass, median over passes\""),
      "failed_share" -> (failed.toDouble / attempted).toString)
    println("# facts " + facts.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
    println("# wall " + walls.map { case (k, (v, u)) => f"$k=$v%.6f $u" }.mkString(", "))
    WallNames.getOrElse(workload, Nil).foreach { case (name, k) =>
      println(f"# $workload $name = ${walls(k)._1}%.6f ${walls(k)._2}")
    }
    if (workload == "taxi_month_dag")
      println(f"# $workload score_rows_per_s = ${perLayer("ml.score_rows_per_s")._1}%.1f rows/s")
    println("# pass walls " + passes.map(p => f"${p.seconds}%.3f").mkString(" "))
    println("# pass cpu " + passes.map(p => f"${p.cpuSeconds}%.3f").mkString(" "))
    println("# ops (last pass) " + passes.last.ops.map(o => f"${o.name}=${o.seconds}%.3f").mkString(" "))
    all.flatMap(_.ops).filter(_.failed.nonEmpty).take(5)
      .foreach(o => println(s"# failed ${o.name}: ${o.failed.get}"))
    val shown = if (traced) perLayer else e2e
    val metrics = shown.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${metrics.mkString("{", ", ", "}")}}""")
    System.out.flush()
    graft.QuietShutdown(spark)
  }

  /** Per-layer metric names every traced run reports (0 where a workload
    * does not touch the layer), with units. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "cleaning.s" -> "s", "cleaning.retention" -> "share",
    "sources.write_s" -> "s", "sources.bytes_written" -> "bytes", "sources.files_written" -> "count",
    "gates.s" -> "s", "gates.failed" -> "count",
    "warehouse.dims_s" -> "s", "warehouse.fact_load_s" -> "s", "warehouse.fact_rows" -> "count",
    "warehouse.rerun_appended_rows" -> "count",
    "ml.features_s" -> "s", "ml.fit_s" -> "s", "ml.score_s" -> "s", "ml.rmse" -> "usd",
    "ml.score_rows_per_s" -> "1/s",
    "analytics.build_s" -> "s", "analytics.analyze_s" -> "s", "analytics.optimize_s" -> "s",
    "analytics.plan_s" -> "s", "analytics.exec_s" -> "s") ++
    CurationEntries.map(e => s"curation.${e}_s" -> "s")

  /** Layers spans are attributed to (the span-name prefix). */
  val TraceLayers = Seq("bench", "operators.Cleaning", "sources.Sources", "quality.Gates",
    "warehouse.StarSchema", "ml.FarePipeline", "registry.analytics", "registry.curation",
    "spark.collect")

  /** Each workload's wall figures under the names the README's tables use. */
  val WallNames: Map[String, Seq[(String, String)]] = Map(
    "taxi_month_dag" -> Seq("dag_wall_s" -> "wall_s", "dag_etl_s" -> "etl_s"),
    "dashboard_mix" -> Seq("dash_p50_s" -> "p50_s", "dash_tail_s" -> "tail_s", "dash_qps" -> "ops_per_s"),
    "curation_rounds" -> Seq("curation_wall_s" -> "wall_s"))

  private def expected(): Map[String, (Long, String)] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(ExpectedFile))
    import scala.jdk.CollectionConverters._
    tree.properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
    }.toMap
  }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted, 50)

  /** Linear-interpolated percentile of sorted values. */
  def percentile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val r = p / 100.0 * (sorted.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (r - lo)
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
