package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** The one life cycle of the iterative operators (connected components,
  * PageRank, k-core, label propagation, BFS/SSSP): [[fixpoint]] runs it,
  * and each operator supplies only its step and its convergence test.
  *
  * '''Input checkpoint.''' The edge or adjacency frame feeds every round,
  * so it is taken first as one eager `localCheckpoint`, at the session's
  * full shuffle width (the edge build upstream is data-sized and keeps its
  * parallelism), and the checkpointed frame is what `init` and `step`
  * receive. It has no lineage: every round plans, prints and ships a scan
  * of its blocks, not the edge build behind it. A persisted input carried
  * that build into every job as the cached plan of an `InMemoryRelation`,
  * printed, canonicalized and serialized again each time: in a JFR profile
  * of the `curation_rounds` benchmark on 4 cores, Spark's `ClosureCleaner` took 22%
  * of process CPU, task (de)serialization 18% and AQE's `explainString`
  * 5%, all growing with the jobs and with the plan each round carries, and
  * the probe's `plan_chars` at sf0.01 read 554k per query for
  * `dedup_components` and 277k for `g6_bfs_layers` (44k and 30k over the
  * checkpoint). The checkpoint keeps the partitioning of the plan it was
  * taken from (`PlanBridge.keepPartitioning`; under AQE Spark declares
  * none for a checkpoint): partition the frame on the probe key before
  * handing it over, and each round's join reads it co-located and
  * exchanges only the state side. Its row count, which sizes the state
  * width, is one count of the checkpoint's blocks, not a second exchange.
  * The trade: a local checkpoint lives in executor storage and is not
  * recomputed if an executor is lost, the trade the state cuts and the
  * result snapshot below already make. Its blocks are released in the
  * `finally`, after the result snapshot, by unpersisting its RDD.
  *
  * '''State width.''' The state frames are node-sized metadata (thousands
  * of rows at bench scale, a few GB at 100 TB) but would shuffle at the
  * session's `spark.sql.shuffle.partitions`, sized for data. With M map
  * tasks and R reduce partitions every exchange writes M·R block files: a
  * thread dump of a propagation round (OPTIMIZATION_r15.md) showed ~10 s
  * of executor CPU per round opening 32·32 files of a few KB each, which
  * AQE's read-side coalescing cannot undo. So the rounds run under
  * [[withStateShuffle]], at ~4M state rows per partition derived from the
  * input's measured count ([[statePartitions]]): 1 partition at bench
  * scale, hundreds at 100 TB, never wider than the session's own setting.
  * Results are partitioning-independent (keyed joins and aggregates,
  * deterministic min/argmin tie-breaks).
  *
  * '''Cadence.''' A loop with a convergence test persists each round's
  * state and ends the round in one action, the test itself; the previous
  * round's cache is released once the new one is filled. A loop without
  * one folds its rounds into one lazy plan and pays no per-round action:
  * each round reads the previous state once, so the plan grows by one
  * join per round. Either way, every [[CheckpointEvery]] rounds with
  * rounds still to go, the state is cut to an eager `localCheckpoint`, so
  * the lineage the analyzer and the planner walk stays bounded at any
  * depth. A state that reads only checkpoints other than the input has no
  * lineage to cap and is not cut again (connected components' pointer-jump
  * step checkpoints its own relax state every round); a state that reads
  * the input still carries every round since the last cut.
  *
  * '''Snapshot before release.''' The result is an eager
  * `localCheckpoint(true)` taken BEFORE anything is released, never a
  * persisted frame: `Dataset.unpersist` drops the materialized blocks of
  * every cache entry whose plan reads the released one, for lazy re-cache
  * (`CacheManager.recacheByCondition`), so a persisted result would make
  * the caller's first action re-run the whole loop against cold caches
  * (a 5.1 s re-run of a 1,500-row result, PERF.md r10). A local
  * checkpoint truncates lineage at the RDD level, outside the cache
  * manager's dependency tracking. Then, in a `finally` (on failure too),
  * the round caches are unpersisted and the blocks of the input
  * checkpoint and of every checkpoint the rounds read are released by
  * unpersisting their RDDs; only the snapshot stays with the caller. */
private[graft] object IterState {
  /** ~4M (id, label)-style rows per state partition (~100 MB). */
  private val RowsPerPartition = 4L * 1000 * 1000

  /** Rounds between lineage cuts. */
  val CheckpointEvery = 5

  def statePartitions(spark: SparkSession, stateRows: Long): Int = {
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(cur.toLong,
      (stateRows + RowsPerPartition - 1) / RowsPerPartition)).toInt
  }

  /** Run `body` with the shuffle width sized to `stateRows`; restore the
    * session's R afterwards. The caller must have already materialized
    * any data-sized upstream (edge checkpoint) — everything inside `body`
    * should touch only state-sized frames and materialized inputs. */
  def withStateShuffle[T](spark: SparkSession, stateRows: Long)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitions(spark, stateRows).toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The checkpoint RDDs `df`'s plan reads, subqueries included. */
  private def checkpointsRead(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd }

  /** Releases the blocks of every checkpoint `df` reads: for a caller done
    * with a snapshot it does not return. */
  def release(df: DataFrame): Unit = checkpointsRead(df).foreach(_.unpersist(blocking = false))

  /** `df` as an eager local checkpoint that keeps `df`'s partitioning,
    * with the RDD holding its blocks. */
  private def checkpoint(df: DataFrame): (DataFrame, RDD[_]) = {
    val ck = PlanBridge.keepPartitioning(df, df.localCheckpoint(true))
    (ck, checkpointsRead(ck).head)
  }

  /** Both orientations `(a, b, extra…)` and `(b, a, extra…)` of an edge
    * list `(from, to, …)`, from ONE scan: each row explodes into the two.
    * A union of two legs would plan and run the upstream edge build twice,
    * since the legs differ in their projections and share no exchange. */
  def symmetric(edges: DataFrame, from: String, to: String, extra: Column*): DataFrame =
    edges.select(explode(array(
      struct(col(from).as("a") +: col(to).as("b") +: extra: _*),
      struct(col(to).as("a") +: col(from).as("b") +: extra: _*))).as("__e"))
      .select("__e.*")

  /** One relax hop over an adjacency `(a, b, …)`: every state row
    * `(node, d)` keeps itself and offers `step` (an expression over `d`
    * and the adjacency columns) to each neighbour `b`; the new state is
    * `(node, d, prev)`, `d` the min per node and `prev` the node's own `d`
    * before the hop (null for a node the hop reaches first), so a
    * convergence test needs no second join. The state is read ONCE (a
    * left join, so nodes without edges, isolated seeds included, keep
    * their distance), so chaining hops grows the plan by one join per hop,
    * and the per-node min absorbs revisits, so no visited-set anti-join is
    * needed. */
  def hop(adj: DataFrame, step: Column)(state: DataFrame): DataFrame =
    state.join(adj, col("node") === col("a"), "left")
      .select(explode(array(
        struct(col("node"), col("d"), col("d").as("prev")),
        struct(col("b").as("node"), step.as("d"),
          lit(null).cast(state.schema("d").dataType).as("prev")))).as("__e"))
      .select("__e.*")
      .filter(col("node").isNotNull)
      .groupBy("node").agg(min(col("d")).as("d"), min(col("prev")).as("prev"))

  /** [[snapshot]] over a persisted `input` instead of a checkpoint, for
    * the wedge-join operators (triangle counts, link prediction): their
    * data-sized joins read the input in the snapshot's own job, and taking
    * the input as a checkpoint first measured slower in a `Bench` probe at
    * sf0.1, width 4 (g2_triangle_count 2.3 → 4.0–4.9 s,
    * g4_link_prediction 8.7 → 11.3–12.7 s). */
  def snapshotCached(input: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val in = input.persist()
    try body(in).localCheckpoint(true)
    finally in.unpersist()
  }

  /** The round-less half of the life cycle: checkpoint `input`, snapshot
    * `body`'s result over the checkpoint, release the checkpoint. A result
    * that no longer reads the checkpoint (it reads only other snapshots
    * and sources) is returned as it is. For an input several plan legs
    * probe (the shingle index, [[Dedup.withIndex]]); nothing is counted and
    * the session's width is kept. */
  def snapshot(input: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val (in, inRdd) = checkpoint(input)
    try {
      val out = body(in)
      if (checkpointsRead(out).exists(_ eq inRdd)) out.localCheckpoint(true) else out
    } finally inRdd.unpersist(blocking = false)
  }

  /** Up to `maxRounds` rounds of `step` from `init(input, inputRows)`,
    * over `input` as a checkpoint; returns the snapshot of `result(final
    * state)`. `init` and `step` receive the checkpointed input; `result`
    * reads only the state. With a `converged` test (one action over the
    * new, persisted state) the loop stops at the first round that passes
    * it. */
  def fixpoint(input: DataFrame, maxRounds: Int,
               converged: Option[DataFrame => Boolean] = None)
              (init: (DataFrame, Long) => DataFrame)
              (step: (DataFrame, DataFrame) => DataFrame)
              (result: DataFrame => DataFrame): DataFrame = {
    val (in, inRdd) = checkpoint(input)
    var held = List.empty[DataFrame] // state caches the rounds made, newest first
    var cuts = Set.empty[RDD[_]] // checkpoints the states read or are, the input's aside
    def unpersistHeld(keep: Int): Unit = { held.drop(keep).foreach(_.unpersist()); held = held.take(keep) }
    try {
      val rows = inRdd.count()
      withStateShuffle(in.sparkSession, rows) {
        var state = init(in, rows)
        if (converged.isDefined && (state ne in)) held = List(state.persist())
        var round = 0
        var done = false
        while (!done && round < maxRounds) {
          round += 1
          state = step(in, state)
          for (test <- converged) {
            held = state.persist() :: held
            done = test(state)
            unpersistHeld(1)
          }
          if (!done && round < maxRounds && round % CheckpointEvery == 0 &&
              !state.queryExecution.analyzed.collectLeaves().forall {
                case r: LogicalRDD => r.rdd ne inRdd
                case _ => false
              }) {
            state = checkpoint(state)._1
            unpersistHeld(0)
          }
          cuts ++= checkpointsRead(state).filterNot(_ eq inRdd)
        }
        result(state).localCheckpoint(true)
      }
    } finally {
      unpersistHeld(0)
      cuts.foreach(_.unpersist(blocking = false))
      inRdd.unpersist(blocking = false)
    }
  }
}
