package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Execution-shape auditor for the iterative / scheduler-bound entries
  * (guide §7.1 without the UI, which the bench sessions disable): run the
  * named registry queries once each and report the number of Spark JOBS,
  * stages and tasks they launched plus the per-job wall time — the
  * quantity that prices a "round" of an iterative operator — and the
  * Janino compilations each query paid (one per codegen-cache miss; a
  * second pass should pay almost none). The bench's
  * plan dumps can't show this (the iterative entries return a
  * localCheckpoint snapshot whose final plan is a scan), so this is the
  * committed evidence for round-shape claims in OPTIMIZATION_r15.md.
  *
  *   sbt "runMain graft.JobAudit link_entity_clusters dedup_components"
  */
object JobAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobAudit <query-name> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
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

    final class Counter extends SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); jobStart.put(e.jobId, System.nanoTime())
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = jobStart.getOrDefault(e.jobId, System.nanoTime())
        jobLines.add(f"    job ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e3 / 1e3}%8.1f ms")
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks)
        val si = e.stageInfo
        val run = si.taskMetrics.executorRunTime
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        val rdds = si.rddInfos.map(_.name).filter(_ != null).distinct
          .mkString("[", " ", "]")
        jobLines.add(f"    stage ${si.stageId}%4d wall=$wall%6d ms " +
          f"run=$run%6d ms tasks=${si.numTasks}%4d ${si.name.take(60)} " +
          rdds.take(160))
      }
    }

    for (pass <- 1 to 2; name <- args) {
      val c = new Counter
      spark.sparkContext.addSparkListener(c)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      // drain the async listener bus so the counts are complete
      // (listenerBus is private[spark]; a short sleep suffices for a tool)
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(c)
      println(f"AUDIT pass=$pass $name wall=$wall%.3f s jobs=${c.jobs.get} " +
        f"stages=${c.stages.get} tasks=${c.tasks.get} compiles=$compiles")
      if (sys.env.contains("SPARK_GRAFT_JOB_DETAIL")) {
        import scala.jdk.CollectionConverters._
        c.jobLines.asScala.toSeq.sorted.foreach(println)
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
