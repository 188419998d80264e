package graft

import org.apache.spark.sql.SparkSession

/** Targeted timing harness for perf adjudication: run NAMED registry
  * queries (args) for `SPARK_GRAFT_TIME_REPEATS` back-to-back repeats at
  * `SPARK_GRAFT_SF_DIR`, with the same noop-sink materialization and
  * per-query cache isolation as [[Bench]]. Unlike Bench it runs ONLY the
  * named queries (a full-suite pass costs ~3 min at sf0.1 — too coarse a
  * feedback loop when iterating on one operator) and never touches
  * `bench_baselines/`, so a dev measurement can't clobber the
  * whole-suite baseline the round comparison reads.
  *
  *   sbt "runMain graft.TimeQueries g6_bfs_layers g7_sssp_bounded"
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeQueries <query-name> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_TIME_REPEATS", "3").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(GraftSession.baseConf)
      .config("spark.sql.warehouse.dir", "target/tmp/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    try { // same untimed warm-up as Bench
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      SparkEntry.queries.get("a7_distinct_list").foreach(_(spark, sfDir).collect())
    } catch { case _: Throwable => () }
    for (pass <- 1 to repeats; name <- args) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"TIMED pass=$pass $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
