package graft

import org.apache.spark.sql.SparkSession

/** The `Bench` probe on the shared session: one record per query and
  * pass, phases that nest inside the measured wall time, eager rounds
  * counted as build jobs, a plan size, and a session left running for the
  * next suite. */
class HarnessSpec extends SparkSpec {

  test("the probe splits each query into phases and scheduler work") {
    val names = Seq("a5_two_key_group", "g6_bfs_layers")
    val records = Bench.probe(spark, sf001, names, repeats = 1)
    assert(records.map(_.query) === names)
    assert(records.forall(_.pass == 1))
    for (r <- records) {
      val phases = Seq(r.wall, r.build, r.analyze, r.optimize, r.plan, r.exec)
      assert(phases.forall(_ >= 0), s"negative phase in $r")
      assert(r.build + r.exec <= r.wall + 1.0, s"build + exec exceeds wall in $r")
      assert(r.optimize + r.plan <= r.exec + 2.0, s"write phases exceed exec in $r")
      assert(r.jobs >= r.buildJobs && r.jobs > 0 && r.stages > 0 && r.tasks >= r.stages, r)
      assert(r.planChars > 0, s"no plan size in $r")
    }
    val g6 = records.find(_.query == "g6_bfs_layers").get
    assert(g6.buildJobs > 0, "g6_bfs_layers runs its rounds while it builds")
    assert(!spark.sparkContext.isStopped)
    assert(SparkSession.getActiveSession.contains(spark))
  }

  test("the benchmarked curation entries keep their job and stage counts") {
    // the second pass, so the counts are free of first-run effects; a
    // change to the first two changes the `curation_rounds` benchmark
    val records = Bench.probe(spark, sf001, Seq("g6_bfs_layers", "dedup_components",
      "g7_sssp_bounded", "link_entity_clusters"), repeats = 2).filter(_.pass == 2)
    val counts = records.map(r => r.query -> (r.jobs, r.stages)).toMap
    assert(counts === Map("g6_bfs_layers" -> ((11, 11)), "dedup_components" -> ((16, 16)),
      "g7_sssp_bounded" -> ((11, 11)), "link_entity_clusters" -> ((24, 24))))
    // twice today's plan size: an input persisted again instead of
    // checkpointed carries its whole build into every round's plan
    val planChars = records.map(r => r.query -> r.planChars).toMap
    assert(planChars("g6_bfs_layers") <= 2 * 30200 && planChars("dedup_components") <= 2 * 44400,
      planChars)
  }
}
