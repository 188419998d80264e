package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Ops.{Entry, Q}
import graft.Tables
import graft.functions.TextOps

/** End-to-end corpus curation — the LLM-data equivalent of the reference's
  * clean-ingest pipeline (`pipeline_clean_ingest`): one declarative DAG
  * that takes a raw document table through
  *
  *   1. exact dedup (md5 keep-first — [[Dedup.exactGroups]]),
  *   2. near-dup collapse (0.8-Jaccard clusters → longest-member canonical
  *      keeper — [[Dedup.canonicalKeep]]),
  *   3. quality pruning to a global token budget
  *      ([[TextOps.qualityPrune]]),
  *
  * and reports the survivor funnel: one row per stage with doc and token
  * counts — the "data card" numbers every training-corpus release ships.
  *
  * Composition semantics are SEQUENTIAL (each stage sees only the previous
  * stage's survivors), which is what makes the whole thing one lazy plan:
  * stages chain as keyed joins on doc_id, Catalyst sees the full DAG, and
  * nothing materializes until the final 4-row aggregate. At 100 TB every
  * inter-stage hop is a doc_id-keyed semi-join against an
  * already-reduced survivor frame.
  */
object Curation {

  /** Per-stage survivor stats: (stage_id, stage, n_docs, n_tokens).
    *
    * EAGER by design: the result is a 4-row data card, so the funnel
    * materializes it with one `collect` and releases every frame it
    * cached before returning (ADVICE r6 — library callers must not leak
    * cached frames or depend on the harness's suite-wide `clearCache()`).
    * The shingle index is built and released by [[Dedup.withIndex]],
    * [[Dedup.connectedComponents]] releases its own checkpoints
    * ([[IterState.fixpoint]]), and the prune's snapshot is released once
    * the card is collected, with the labels snapshot the drop set reads. */
  def curationFunnel(docs: DataFrame, idCol: String, textCol: String,
                     pruneTokenBudget: Long): DataFrame = {
    val spark = docs.sparkSession
    val d0 = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // Each survivor frame feeds several consumers (the next stage's joins,
    // its own stage aggregate, and — for d1 — the shingle index AND the
    // keeper-length lookup), so d1/d2 persist; both are unpersisted below
    // once the funnel rows are materialized.
    // Stage 1: exact dedup, keep the smallest id per content hash.
    val d1 = d0.join(
      Dedup.exactGroups(d0, "doc_id", "text")
        .select(col("keeper_id").as("doc_id")),
      "doc_id").persist()
    // Materialize the cache NOW: connectedComponents below is already
    // eager (per-round convergence actions), and the final funnel job has
    // several branches over d1/d2 — without eager materialization those
    // branches race to compute the same uncached subtree in parallel
    // (measured 18.4 s -> 8 s at sf0.1 for the whole funnel).
    d1.count()
    // Stage 2: near-dup collapse — the drop set is pairs-sized, so the
    // survivor filter is a broadcast ANTI join (the corpus never shuffles
    // for it; the full canonicalKeep redirect map would cost two
    // corpus-wide left joins the funnel doesn't need).
    val drop = Dedup.withIndex(d1)(idx =>
      Dedup.canonicalDropIds(d1, "doc_id", "text", Dedup.jaccardPairs(idx, 0.8)))
    val d2 = d1.join(broadcast(drop), Seq("doc_id"), "left_anti").persist()
    d2.count()
    // stage 3: best-first quality prune to the token budget
    val d3 = TextOps.qualityPrune(d2, "doc_id", "text", pruneTokenBudget)

    def stage(df: DataFrame, id: Int, name: String): DataFrame =
      df.agg(lit(id).as("stage_id"), lit(name).as("stage"),
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast(LongType)).as("n_tokens"))

    val funnel = stage(d0, 0, "input")
      .union(stage(d1, 1, "exact_dedup"))
      .union(stage(d2, 2, "neardup_collapse"))
      // qualityPrune already carries exact n_tokens per kept doc
      .union(d3.agg(lit(3).as("stage_id"), lit("quality_prune").as("stage"),
        count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens")))
    // Materialize the 4-row card, then release this function's caches.
    val rows = funnel.collect()
    val schema = funnel.schema
    d1.unpersist(); d2.unpersist(); IterState.release(funnel)
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.toIndexedSeq, 1), schema)
  }

  // ---------------------------------------------------------------- entries

  private val PruneBudget = 8000L

  private val funnelQ: Q = (s, dir) =>
    curationFunnel(Tables(s, dir).documents, "doc_id", "text", PruneBudget)
      .orderBy("stage_id")

  val entries: Seq[Entry] = Seq(
    // Verify-graded but not benched: a composite of stages that are each
    // benched on their own, whose bench-scale cost is dominated by
    // sequential stage materializations (eager component rounds and
    // inter-stage caches) that amortize at real scale but read as ~10 s of
    // scheduler latency at sf0.1 (PERF.md)
    Entry("pipeline_corpus_curation", funnelQ, Some(Dedup.curationOracle(PruneBudget))),
  )
}
