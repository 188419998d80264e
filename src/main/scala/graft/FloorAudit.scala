package graft

import org.apache.spark.sql.SparkSession

/** Per-query FLOOR decomposition (r15, VERDICT next-round item 3): split a
  * registry query's wall time into the driver-side phases that make up the
  * ~0.5 s per-entry floor the 120-query tail pays — query CONSTRUCTION
  * (the Q function: Tables + Column building + analysis of intermediate
  * frames), ANALYSIS of the final frame, OPTIMIZATION (the Catalyst
  * optimizer), PHYSICAL planning, and EXECUTION (the noop write, which
  * under AQE re-plans per stage, so scheduler latency and AQE
  * re-optimization land here). Construction-time Spark JOBS (eager
  * operators: iterative rounds, head() probes) are counted so entries
  * whose "build" is really execution are visible.
  *
  *   sbt "runMain graft.FloorAudit a1_kpi_global f12_date_arith ..."
  */
object FloorAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: FloorAudit <query-name> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_TIME_REPEATS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(GraftSession.baseConf)
      .config("spark.sql.warehouse.dir", "target/tmp/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try { // same untimed warm-up as Bench
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      SparkEntry.queries.get("a7_distinct_list").foreach(_(spark, sfDir).collect())
    } catch { case _: Throwable => () }

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    for (pass <- 1 to repeats; name <- args) {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuild = ms(t0)
      val buildJobs = jobs.get() - j0
      val qe = df.queryExecution
      val t1 = System.nanoTime(); qe.assertAnalyzed(); val tAnalyze = ms(t1)
      val t2 = System.nanoTime(); qe.optimizedPlan; val tOptimize = ms(t2)
      val t3 = System.nanoTime(); qe.executedPlan; val tPlan = ms(t3)
      val t4 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tExec = ms(t4)
      val execJobs = jobs.get() - j0 - buildJobs
      println(f"FLOOR pass=$pass $name%-28s total=${ms(t0) / 1000}%7.3f s " +
        f"build=$tBuild%7.1f ms (jobs=$buildJobs%3d) analyze=$tAnalyze%6.1f " +
        f"optimize=$tOptimize%7.1f plan=$tPlan%6.1f " +
        f"exec=${tExec / 1000}%7.3f s (jobs=$execJobs%3d)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
