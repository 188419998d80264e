package graft

/** Physical-plan regression tests: the scale-critical plan shapes audited by
  * [[ExplainAudit]], pinned so a refactor can't silently trade them away. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = ExplainAudit.plan(spark, sf001, name)

  test("range filters push down to the parquet scan") {
    val p = plan("p9_range_limit")
    assert(p.contains("GreaterThan(l_quantity,0.0)"), p.linesIterator.take(5).mkString("\n"))
    assert(p.contains("LessThanOrEqual(l_extendedprice,50000.0)"))
  }

  test("star join plans every dim side as BroadcastHashJoin") {
    val p = plan("j4_star_join")
    assert(p.split("BroadcastHashJoin").length >= 5, "expected 4 broadcast joins")
    assert(!p.contains("CartesianProduct"))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("t3_topk_rank").contains("TakeOrderedAndProject"))
    assert(plan("p9_range_limit").contains("TakeOrderedAndProject"))
  }

  test("projection pruning reaches the scan (narrow ReadSchema)") {
    val p = plan("p7_rename_select")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && !read.contains("l_extendedprice"),
      s"scan should read only selected columns: $read")
  }

  test("ann top-k: heap states cross the per-query Exchange — no embedding arrays, no sort") {
    val p = plan("ann_cosine_topk")
    val sections = p.split("\\n\\(")
    val exchanges = sections.filter(s =>
      s.contains("Exchange") && s.contains("hashpartitioning(query_id"))
    assert(exchanges.nonEmpty, "expected a per-query Exchange")
    exchanges.foreach { s =>
      val input = s.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("cv#") && !input.contains("qv#"),
        s"per-query Exchange must not carry embedding arrays: $input")
      assert(!input.contains("sim#"),
        s"per-query Exchange should carry heap state, not scored candidate rows: $input")
    }
    // r10 continuation: the shared top-k tail is the graft_topk bounded
    // heap — partial aggregation before the Exchange and NO sort of the
    // scored candidates anywhere (the window form, even with Spark 4's
    // WindowGroupLimit, sorted every candidate row per map partition)
    assert(p.contains("partial_graft_topk"),
      "expected a Partial-mode graft_topk aggregate")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window"),
      "ann top-k must not fall back to the window sort")
  }

  test("tfidf top-k: window-derived df, partial WindowGroupLimit before the shuffle") {
    // r10: document frequency rides a token-partitioned window over the
    // tf frame instead of a dfreq groupBy+broadcast join — the broadcast
    // was vocab-sized (unboundable at corpus scale) and its build side
    // re-ran the corpus explode; the window form is one corpus pass
    val p = plan("text_tfidf_topk")
    assert("hashpartitioning\\(token".r.findAllIn(p).length == 1,
      "df must come from ONE token-keyed Exchange")
    assert(p.contains("WindowGroupLimit"), "per-doc top-k should pre-limit before the Exchange")
    assert(!p.contains("SortMergeJoin"), "no join expected on the token side")
  }

  test("broadcast as-of entry: BroadcastAsOfJoinExec, no hash Exchange on the fact side") {
    val p = plan("asof_join_broadcast")
    assert(p.contains("BroadcastAsOfJoin"), p.take(600))
    assert(p.contains("BroadcastExchange"), "purchase side should broadcast")
    assert(!p.contains("Exchange hashpartitioning"),
      "the view side must reach the exec without a shuffle")
  }

  test("contamination probe broadcasts the benchmark side — corpus never shuffles to join") {
    val p = plan("dedup_contamination")
    assert(p.contains("BroadcastHashJoin"), "benchmark shingles should broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus side must not shuffle for the probe")
  }

  test("label centroids aggregate partially before the (label, pos) shuffle") {
    val p = plan("emb_label_centroids")
    // partial HashAggregate -> Exchange -> final HashAggregate: map-side
    // combine means rows x dim scalars shrink before they shuffle
    val i = p.indexOf("HashAggregate")
    val j = p.indexOf("Exchange")
    assert(i >= 0 && j >= 0, "expected hash aggregate + exchange")
    assert(p.split("HashAggregate").length >= 3, "expected partial+final aggregate pair")
  }

  test("native as-of join plans through the tier-c AsOfJoinExec") {
    val p = plan("asof_join_native")
    assert(p.contains("AsOfJoin"), p.linesIterator.take(15).mkString("\n"))
    // one hash shuffle per side on the key, supplied by EnsureRequirements
    assert(p.split("hashpartitioning\\(user_id").length >= 3, "both sides clustered by key")
  }

  test("partitioned sink read-back prunes partitions on the partition key") {
    // materialize the year-partitioned layout once, then read one year back
    SparkEntry.queries("s5_partitioned_sink")(spark, sf001).collect()
    val read = spark.read
      .parquet(new java.io.File("target/tmp/pq_orders_by_year").getAbsolutePath)
      .filter(org.apache.spark.sql.functions.col("o_year") === 1995)
    val p = read.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_year") && pf.contains("1995"),
      s"expected partition pruning on o_year=1995, got: $pf")
  }

  test("dynamic partition pruning fires on a partitioned fact ⋈ filtered dim") {
    import org.apache.spark.sql.functions._
    // fact = the year-partitioned sink layout; dim = a tiny (o_year, tag)
    // table filtered AT RUNTIME — DPP should inject a subquery filter so
    // only the matching fact partitions are scanned (the 100-TB win: the
    // fact side's partition list shrinks before the scan, not after)
    SparkEntry.queries("s5_partitioned_sink")(spark, sf001).collect()
    val fact = spark.read
      .parquet(new java.io.File("target/tmp/pq_orders_by_year").getAbsolutePath)
    val dim = spark.range(1992, 1999).select(col("id").cast("int").as("o_year"),
      (col("id") % 7).as("tag"))
    val joined = fact.join(dim.filter(col("tag") === 3), "o_year")
    val p = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter on the fact scan:\n${p.take(1200)}")
  }

  test("runtime bloom filter is injected on a selective fact ⋈ fact join") {
    import org.apache.spark.sql.functions._
    val s = spark
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      // production default is 10GB — the sf0.001 fact scan is far smaller,
      // so drop the application-side floor to let the rule fire in-test
      s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // the rule targets SHUFFLE joins (broadcast joins don't need it) —
      // at test scale everything would broadcast, so force the shuffle path
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = Tables(s, sf001)
      // selective filter on the orders side => a bloom of surviving keys is
      // built and pushed into the lineitem scan, discarding non-matching
      // rows BEFORE the shuffle — at 100 TB that is most of the fact table
      val sel = t.orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val joined = t.lineitem.select(col("l_orderkey"), col("l_quantity"))
        .join(sel, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter") ||
        p.contains("might_contain"),
        s"expected a runtime bloom filter in the optimized plan:\n${p.take(1200)}")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }


  test("join strategy hints override the planner's default choice") {
    import org.apache.spark.sql.functions._
    val t = graft.Tables(spark, sf001)
    val dim = t.customer.select(col("c_custkey"), col("c_mktsegment"))
    // tiny dim would normally broadcast; the merge hint forces sort-merge,
    // the shuffle_hash hint forces a shuffled hash join — the manual
    // overrides an operator engineer reaches for when stats mislead AQE
    val merged = t.orders.join(dim.hint("merge"),
      t.orders("o_custkey") === dim("c_custkey"))
    assert(merged.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    val hashed = t.orders.join(dim.hint("shuffle_hash"),
      t.orders("o_custkey") === dim("c_custkey"))
    assert(hashed.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"))
  }

  test("bucketed co-located join has no Exchange on the join key") {
    val p = plan("j9_bucketed_join")
    assert(p.contains("SortMergeJoin"))
    assert(!p.contains("hashpartitioning(o_custkey") &&
      !p.contains("hashpartitioning(c_custkey"),
      "bucketed scan must satisfy the join distribution — shuffle means bucketing was lost")
  }

  test("incremental jaccard candidates shuffle once — no (pair, shingle) distinct exchange") {
    // the pairs are the snapshot Dedup.withIndex takes, so the candidate
    // stream runs in that action's plan, not in the query's own
    val p = withActions(SparkEntry.queries("dedup_jaccard_incremental")(spark, sf001))._2
      .collect { case ("localCheckpoint", qe) => qe }.last
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the orientation filter makes every (pair, shingle) row unique by
    // construction, so the only candidate-stream Exchange is the pair count;
    // a 3-column (id_a, id_b, shingle) partitioning means the distinct is back
    assert(!p.matches("(?s).*hashpartitioning\\(id_a#\\d+L?, id_b#\\d+L?, shingle.*"),
      "candidate stream must not shuffle on (pair, shingle)")
    assert(p.contains("hashpartitioning(id_a#"), "pair-count shuffle must exist")
  }

  test("substring decontamination probe broadcasts the needles — corpus never shuffles to join") {
    val p = plan("dedup_substring_probe")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "predicate join against a broadcast needle set is the intended plan")
    assert(p.contains("BroadcastExchange"), "needle side must broadcast")
  }

  test("binned range join plans as an equi-join, not a nested loop") {
    val p = plan("range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join must go through the bin equi-key")
  }

  test("lang-id evaluates split exactly once (token array materialized)") {
    val p = plan("text_lang_id")
    val n = "split\\(".r.findAllIn(p).length
    assert(n == 1, s"expected exactly 1 split( in the plan, got $n")
  }

  test("AQE splits a skewed shuffle partition at runtime (skew=true in the SMJ)") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // shrink the thresholds so test-sized data triggers the optimization
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "20KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      // 100k rows on ONE key vs a uniform right side: the hot partition is
      // ~50x the advisory size, so OptimizeSkewedJoin must split it
      val skewed = s.range(100000).select(lit(7L).as("k"), $"id".as("payload"))
        .union(s.range(2000).select(($"id" % 40).as("k"), $"id".as("payload")))
      val dim = s.range(40).select($"id".as("k"), concat(lit("v"), $"id").as("v"))
      // no downstream keyed operator: a groupBy on k would make AQE skip the
      // split (it would invalidate the join's output partitioning); collect()
      // executes THIS Dataset's QueryExecution so the adaptive plan finalizes
      val joined = skewed.join(dim, "k").select(col("k"), col("payload"), col("v"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have re-planned the hot key as a skew join:\n${plan.take(1500)}")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("AQE coalesces undersized shuffle partitions at runtime (AQEShuffleRead)") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // many tiny shuffle partitions vs a generous advisory size: the
      // post-shuffle read must merge them instead of launching one
      // micro-task per partition — at 100 TB this is what keeps a
      // selective-filter stage from scheduling 200k empty tasks
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val agg = s.range(10000).select(($"id" % 50).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
        s"expected runtime partition coalescing:\n${plan.take(1200)}")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("interval union: the whole gaps-and-islands chain rides ONE user-keyed Exchange") {
    // two windows + two keyed aggregates must all reuse the same user_id
    // partitioning; only the final presentation sort may add an Exchange
    val p = plan("b9_interval_union")
    // formatted mode puts the partitioning in the node's Arguments line
    val keyed = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(keyed == 1, s"expected exactly one user-keyed Exchange, got $keyed:\n" +
      p.linesIterator.filter(_.contains("partitioning")).mkString("\n"))
  }

  test("stickiness MAU is explode+hash-aggregate — no nested-loop day join (ADVICE r6)") {
    val p = plan("b7_stickiness")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(800))
    assert(p.contains("Generate"), "expected the contribution explosion")
  }

  test("filtered ANN joins hash-partitioned on the label predicate, not nested-loop") {
    // the label equality inside the join condition must become a broadcast
    // HASH join (the pre-filtered ANN design) — only the unfiltered
    // brute-force entry is allowed its tiny-build-side nested loop
    val p = plan("ann_cosine_filtered")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("incremental ANN probe: batch broadcasts onto the cached index, corpus vectors never re-shuffle") {
    val p = plan("ann_lsh_incremental")
    assert(p.contains("BroadcastHashJoin"), "probe batch should broadcast onto the index")
    assert(p.contains("InMemoryTableScan"), "the index side should read its cache, not rebuild")
    val sections = p.split("\\n\\(")
    sections.filter(s => s.contains("Exchange") && s.contains("hashpartitioning"))
      .foreach { s =>
        val input = s.linesIterator.find(_.startsWith("Input")).getOrElse("")
        assert(!input.contains("cv#") && !input.contains("qv#"),
          s"no Exchange may carry embedding arrays: $input")
      }
  }

  test("PQ-ADC scan uses the native lookup kernel and no Exchange carries float vectors") {
    val p = plan("ann_pq_topk")
    assert(p.contains("graft_pq_adc"), "ADC scan must go through the codegen'd lookup")
    // every data-moving Exchange carries (query_id, neighbor_id, sim)-shaped
    // rows — never the float vectors (cv/qv) or the normalized encode
    // intermediate (__nv); the codes stay on the scan side, the query table
    // rides a BroadcastExchange
    val sections = p.split("\\n\\(")
    sections.filter(s => s.contains("Exchange") && s.contains("hashpartitioning"))
      .foreach { s =>
        val input = s.linesIterator.find(_.startsWith("Input")).getOrElse("")
        assert(!input.contains("cv#") && !input.contains("qv#") && !input.contains("__nv#"),
          s"no Exchange may carry embedding arrays: $input")
      }
  }

  test("no registered lazy query plans a CartesianProduct or BroadcastNestedLoop") {
    // entries that run driver-side actions (train/collect/write) during
    // construction are exercised elsewhere; everything lazy is checked here
    val eager = Set("ml_gbt_metrics", "t4_top_errors_labeled", "ann_ivf_topk",
      // round-8: same quantizer-fit + query-collect shape as ann_ivf_topk
      "ann_ivf_incremental",
      // round-10: PQ codebook training counts + collects a bounded sample
      // during construction (same fit contract as ann_ivf_topk); IVFADC
      // additionally fits the coarse quantizer + collects the query batch
      "ann_pq_topk", "ann_ivfpq_topk", "ann_pq_incremental",
      "pipeline_clean_ingest", "s5_partitioned_sink", "s6_jdbc_roundtrip",
      "s8_csv_roundtrip", "s11_json_roundtrip", "s4_path_probe",
      // round-4 entries that run driver-side actions during construction
      "ml_batch_inference", "dedup_components", "j9_bucketed_join",
      "q_sla_gate", "s1_retrieval_fetch", "s12_orc_roundtrip",
      "dim_lookup_enriched",
      // round-6: collects the needle set during construction
      "dedup_substring_multi",
      // round-6 entries with driver-side actions during construction
      // (ADVICE r6): corpus curation + canonical keep run eager component
      // rounds / counts; the XML entry writes during construction
      "pipeline_corpus_curation", "dedup_canonical_keep", "s13_xml_roundtrip",
      // round-7: writes the text dump during construction
      "s14_text_roundtrip",
      // round-8 (ADVICE r7): these materialize via localCheckpoint during
      // construction so internal corpus-sized caches can be released
      // inside the function instead of leaking to the caller
      "dedup_semantic", "dedup_split_leakage",
      // round-11: builds, WRITES, and reloads the IVF index during
      // construction (the persistence lifecycle is the operator)
      "ann_index_persist",
      // round-11: materialize the fixture file inventory via eager
      // localCheckpoint (the stored metadata table a table format reads
      // back — re-deriving it per reference re-aggregated the data table)
      "layout_time_travel", "layout_vacuum_plan", "layout_commit_conflicts",
      "layout_log_checkpoint")
    val offenders = SparkEntry.queries.keys.filterNot(eager).flatMap { name =>
      val p = plan(name)
      // ann_cosine_topk joins on an inequality (self-match exclusion) over a
      // broadcast query set — BroadcastNestedLoop with a tiny build side is
      // exactly the right plan there, so only flag true cartesians for it
      val cartesian =
        if (p.contains("CartesianProduct")) Some(s"$name: CartesianProduct")
        else None
      // retry-safety census: RoundRobinPartitioning (a column-less
      // repartition(n)) distributes rows by position, which is NOT
      // deterministic across task retries — on a real cluster a fetch
      // failure + stage retry can duplicate or lose rows (SPARK-23207's
      // hazard class; Spark's sort-before-roundrobin mitigation is off for
      // non-orderable rows). Every registered plan must partition by KEY
      // (hash/range) or not at all.
      val roundRobin =
        if (p.contains("RoundRobinPartitioning"))
          Some(s"$name: RoundRobinPartitioning (retry-unsafe repartition)")
        else None
      cartesian ++ roundRobin
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("linkage blocking joins broadcast the clean master — no shuffle to pair") {
    val p = plan("link_best_match")
    assert(p.contains("BroadcastHashJoin"),
      "blocked candidate generation should broadcast the dim-sized side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // three Exchanges by design: the probe-side scoring spread (r15 — a
    // pinned-width content-keyed repartition so the block-quadratic
    // scoring parallelizes instead of running on the probe's scan splits),
    // the per-dirty-record adjudication window, and the range-partitioned
    // deterministic output sort the oracle contract needs
    val (ex, _) = ExplainAudit.shuffleCounts(spark, sf001, "link_best_match")
    assert(ex === 3, s"expected spread + window + output-sort Exchanges, got $ex")
    assert(p.contains("REPARTITION_BY_NUM"),
      "scoring spread must pin its width (an unpinned keyed repartition is " +
        "AQE-coalescible back to the scan-split count)")
  }

  test("manifest prune plan runs on aggregated metadata — single agg Exchange") {
    val p = plan("layout_prune_plan")
    assert(!p.contains("CartesianProduct"))
    // the month manifest aggregates partially before its single shuffle
    assert(p.contains("HashAggregate"))
    // one agg Exchange for the month manifest + the output sort's range
    // Exchange over the 83-row plan frame
    val (ex, _) = ExplainAudit.shuffleCounts(spark, sf001, "layout_prune_plan")
    assert(ex === 2, s"manifest agg + output sort, got $ex")
  }

  test("one-pass k-fold CV: one data-sized Exchange, then the k-row frame") {
    val p = plan("ml_kfold_ols")
    assert(p.contains("Window"), "leave-fold-out totals ride a window")
    // Exchange #1: partial fold moments to their final aggregation (the
    // only data-sized shuffle). Exchange #2: the k-row moment frame to the
    // leave-fold-out window — metadata-sized by construction.
    val (ex, _) = ExplainAudit.shuffleCounts(spark, sf001, "ml_kfold_ols")
    assert(ex === 2, s"expected agg + k-row window Exchanges, got $ex")
  }

  test("assoc rules pay the corpus basket aggregate once: runtime exchange reuse") {
    // b15's per-user basket subtree (the ONE fact-sized shuffle, r10
    // shuffle-audit rewrite) feeds the pair explode, the type counts and
    // the user total — three consumers in the INITIAL plan. The executed
    // plan must collapse the repeats (ReusedExchange under AQE),
    // otherwise the corpus would be re-shuffled per consumer at 100 TB.
    val df = SparkEntry.queries("b15_assoc_rules")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
      || plan.contains("TableCacheQueryStage"),
      s"expected the distinct exchange to be reused:\n${plan.take(1500)}")
  }

  private def scanCount(p: String): Int =
    p.linesIterator.count(_.matches("""\(\d+\) Scan .*"""))

  test("regrouped source-KL is one pass: one documents scan, <= 4 Exchanges") {
    // the r10 rewrite computes KL_s = (1/c_s)*sum c_sw*(ln c_sw - ln c_w)
    // - ln c_s + ln T from a single (source, word) count frame; a second
    // scan of documents means the naive three-copy aggregation is back
    val p = plan("text_source_kl")
    assert(scanCount(p) === 1, s"expected ONE documents scan:\n$p")
    val (ex, _) = ExplainAudit.shuffleCounts(spark, sf001, "text_source_kl")
    assert(ex <= 4, s"one-pass KL needs at most 4 Exchanges, got $ex")
  }

  test("temperature mix: one corpus aggregate, totals on the source-sized frame") {
    val p = plan("text_mix_temperature")
    assert(scanCount(p) === 1, s"expected ONE documents scan:\n$p")
    val (ex, _) = ExplainAudit.shuffleCounts(spark, sf001, "text_mix_temperature")
    assert(ex <= 2, s"per-source agg + tiny global window, got $ex Exchanges")
  }

  test("RFM reads the events table at most twice (anchors pass + bucketing pass)") {
    // the r10 percentile-reflection rewrite folds the reference day into
    // the anchors aggregate: one 1-row broadcast, two lazy passes; a
    // third scan means the refDay-then-anchors chain is back
    val p = plan("b12_rfm_segments")
    assert(scanCount(p) <= 2, s"expected <= 2 events scans:\n$p")
    val (ex, _) = ExplainAudit.shuffleCounts(spark, sf001, "b12_rfm_segments")
    assert(ex <= 5, s"expected <= 5 Exchanges, got $ex")
  }

  test("grouped top-k: partial heap aggregate before the shuffle, no Window/Sort on the fact") {
    val p = plan("t6_topk_group_native")
    // partial/final split => shuffle carries k-row heap states per group
    assert(p.contains("partial_graft_topk"),
      s"expected a Partial-mode graft_topk aggregate:\n$p")
    assert(!p.contains("Window"), "grouped top-k must not fall back to a window sort")
    // the group Exchange must carry aggregation state, not raw fact rows
    val ex = p.split("\\n\\(").find(s =>
      s.contains("Exchange") && s.contains("hashpartitioning(o_orderpriority"))
    assert(ex.nonEmpty, s"expected an Exchange on o_orderpriority:\n$p")
    val input = ex.get.linesIterator.find(_.startsWith("Input")).getOrElse("")
    assert(!input.contains("o_totalprice") && !input.contains("o_orderkey"),
      s"group Exchange should carry heap state only, got: $input")
  }
}
