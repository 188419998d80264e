package graft.streaming

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming tumbling agg over MemoryStream equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val df = input.toDF().toDF("ts", "value")
    val q = EventStream.streamingTumbling(df, "1 hour", "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_test").start()
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), 1.0),
      (ts("2024-01-01 10:55:00"), 2.0),
      (ts("2024-01-01 11:05:00"), 4.0),
    )
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("tumbling_test")
      .orderBy("ws").collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    val batch = EventStream.tumblingAgg(rows.toDF("ts", "value"), "1 hour")
      .orderBy("ws").collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.toSeq === batch.toSeq)
    assert(batch.toSeq === Seq(
      (ts("2024-01-01 10:00:00"), 2L, 3.0), (ts("2024-01-01 11:00:00"), 1L, 4.0)))
  }

  test("flatMapGroupsWithState keeps running per-user counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.UserEvent]
    val q = EventStream.runningUserCounts(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("running_counts").start()
    input.addData(EventStream.UserEvent(1, "a"), EventStream.UserEvent(1, "b"),
      EventStream.UserEvent(2, "a"))
    q.processAllAvailable()
    input.addData(EventStream.UserEvent(1, "c"))
    q.processAllAvailable()
    val out = spark.table("running_counts").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    // batch 1: user1 -> 2, user2 -> 1; batch 2: user1 -> 3 (state carried)
    assert(out.contains((1L, 2L)) && out.contains((2L, 1L)) && out.contains((1L, 3L)))
  }

  test("session windows merge events within gap and split across it") {
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:20:00")), // one session
      (1L, ts("2024-01-01 11:30:00")),                                   // new session
      (2L, ts("2024-01-01 09:00:00")),
    ).toDF("user_id", "ts")
    val out = EventStream.sessionAgg(df, "30 minutes")
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, ts("2024-01-01 10:00:00"), 2L),
      (1L, ts("2024-01-01 11:30:00"), 1L),
      (2L, ts("2024-01-01 09:00:00"), 1L)))
  }

  test("file-based readStream over the events feed equals the batch aggregate") {
    val srcDir = new java.io.File("target/tmp/stream_src")
    org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
    srcDir.mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      srcDir.toPath.resolve("part-0.parquet"))
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val stream = graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath))
    val q = EventStream.streamingTumbling(stream, "1 hour", "1 hour")
      .writeStream.outputMode("complete")
      .format("memory").queryName("file_stream").start()
    q.processAllAvailable()
    val streamedTotal = spark.table("file_stream").agg(sum("n")).head.getLong(0)
    q.stop()
    val batchTotal = graft.Tables(spark, sf001).events.count()
    assert(streamedTotal === batchTotal)
  }

  test("streaming dedup with watermark drops in-stream duplicate keys") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val deduped = EventStream.streamingDedup(
      input.toDF().toDF("ts", "k"), "ts", "1 hour", Seq("k"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup").start()
    input.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:01:00"), 1L),
      (ts("2024-01-01 10:02:00"), 2L))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 10:03:00"), 1L)) // duplicate within watermark
    q.processAllAvailable()
    val ks = spark.table("stream_dedup").collect().map(_.getLong(1)).sorted
    q.stop()
    assert(ks.toSeq === Seq(1L, 2L))
  }

  test("transformWithState keeps running totals in RocksDB ValueState") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStream.ValueEvent]
      val q = EventStream.runningUserTotals(input.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName("tws_totals").start()
      input.addData(EventStream.ValueEvent(1L, 5.0), EventStream.ValueEvent(1L, 7.0),
        EventStream.ValueEvent(2L, 3.0))
      q.processAllAvailable()
      input.addData(EventStream.ValueEvent(1L, 8.0))
      q.processAllAvailable()
      val out = spark.table("tws_totals").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      q.stop()
      // batch 1: user1 -> 12, user2 -> 3; batch 2: user1 -> 20 (state carried)
      assert(out.contains((1L, 12.0)) && out.contains((2L, 3.0)) && out.contains((1L, 20.0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState MapState keeps a per-user event-type histogram") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStream.TypedEvent]
      val q = EventStream.eventTypeCounts(input.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName("tws_typecounts").start()
      input.addData(
        EventStream.TypedEvent(1L, "view"), EventStream.TypedEvent(1L, "view"),
        EventStream.TypedEvent(1L, "cart"), EventStream.TypedEvent(2L, "view"))
      q.processAllAvailable()
      input.addData(EventStream.TypedEvent(1L, "view")) // count carried across batches
      q.processAllAvailable()
      val out = spark.table("tws_typecounts").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      q.stop()
      assert(out.contains((1L, "view", 2L)) && out.contains((1L, "cart", 1L)) &&
        out.contains((2L, "view", 1L)) && out.contains((1L, "view", 3L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState event-time timers flush the ListState buffer once quiet") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStream.TimedEvent]
      val q = EventStream.bufferedFlush(input.toDS(), gap = "30 minutes",
        watermark = "10 minutes")
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_flush").start()
      input.addData(
        EventStream.TimedEvent(1L, ts("2024-01-01 10:00:00"), 5.0),
        EventStream.TimedEvent(1L, ts("2024-01-01 10:10:00"), 7.0),
        EventStream.TimedEvent(2L, ts("2024-01-01 10:05:00"), 3.0))
      q.processAllAvailable()
      // timers armed at 10:40 / 10:35; watermark (10:00) hasn't reached them
      assert(spark.table("tws_flush").count() === 0)
      // advance the watermark past both deadlines, then one more batch so
      // the expired timers fire against the updated watermark
      input.addData(EventStream.TimedEvent(3L, ts("2024-01-01 13:00:00"), 1.0))
      q.processAllAvailable()
      input.addData(EventStream.TimedEvent(3L, ts("2024-01-01 13:01:00"), 1.0))
      q.processAllAvailable()
      val out = spark.table("tws_flush").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      q.stop()
      // each user's burst coalesced into ONE flush row
      assert(out.toSeq === Seq((1L, 2L, 12.0), (2L, 1L, 3.0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("event-time-timeout sessionizer emits sessions closed by the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.SessionEvent]
    val q = EventStream.timeoutSessions(input.toDS(), "30 minutes", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("timeout_sessions").start()
    // user 1: two events 10 min apart (one session); user 2: one event
    input.addData(
      EventStream.SessionEvent(1L, ts("2024-01-01 10:00:00")),
      EventStream.SessionEvent(1L, ts("2024-01-01 10:10:00")),
      EventStream.SessionEvent(2L, ts("2024-01-01 10:05:00")))
    q.processAllAvailable()
    // nothing closed yet: watermark still behind session_end + gap
    assert(spark.table("timeout_sessions").count() === 0)
    // an event far in the future advances the watermark past both sessions
    input.addData(EventStream.SessionEvent(3L, ts("2024-01-01 13:00:00")))
    q.processAllAvailable()
    // one more batch so the timeout fires after the watermark update
    input.addData(EventStream.SessionEvent(3L, ts("2024-01-01 13:01:00")))
    q.processAllAvailable()
    val out = spark.table("timeout_sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .sortBy(_._1)
    q.stop()
    assert(out.toSeq === Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L),
      (2L, ts("2024-01-01 10:05:00"), ts("2024-01-01 10:05:00"), 1L)))
  }

  test("sessionizer restarts from checkpoint: watermark and per-key state survive") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/tmp/ckpt_restart").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val input = MemoryStream[EventStream.SessionEvent]
    def start() = EventStream.timeoutSessions(input.toDS(), "30 minutes", "10 minutes")
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt").start()
    var q = start()
    // an open session for user 1 lives only in the state store when we stop
    input.addData(
      EventStream.SessionEvent(1L, ts("2024-01-01 10:00:00")),
      EventStream.SessionEvent(1L, ts("2024-01-01 10:10:00")))
    q.processAllAvailable()
    q.stop()
    // restart against the same checkpoint: the MemoryStream keeps its data,
    // the state store must come back from disk — then the watermark advance
    // closes the recovered session
    q = start()
    input.addData(EventStream.SessionEvent(3L, ts("2024-01-01 13:00:00")))
    q.processAllAvailable()
    input.addData(EventStream.SessionEvent(3L, ts("2024-01-01 13:01:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$base/out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(out.contains((1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L)),
      s"user 1's pre-restart session must be recovered and emitted, got ${out.toSeq}")
  }

  test("stream-stream join bounds state with watermarks and matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val q = EventStream.viewToPurchaseJoin(
      views.toDF().toDF("user_id", "ts"),
      purchases.toDF().toDF("user_id", "ts", "value"),
      horizon = "1 HOUR", watermark = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    views.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
    purchases.addData(
      (1L, ts("2024-01-01 10:30:00"), 9.0),  // within horizon -> joins
      (2L, ts("2024-01-01 12:30:00"), 5.0))  // past horizon -> no join
    q.processAllAvailable()
    val out = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getDouble(4)))
    q.stop()
    assert(out.toSeq === Seq((1L, 9.0)))
    // same function over batch frames gives the same single match
    val batch = EventStream.viewToPurchaseJoin(
      Seq((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
        .toDF("user_id", "ts"),
      Seq((1L, ts("2024-01-01 10:30:00"), 9.0), (2L, ts("2024-01-01 12:30:00"), 5.0))
        .toDF("user_id", "ts", "value"),
      horizon = "1 HOUR", watermark = "2 hours")
      .collect().map(r => (r.getLong(0), r.getDouble(4)))
    assert(batch.toSeq === Seq((1L, 9.0)))
  }

  test("left-outer stream-stream join emits unmatched views after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val q = EventStream.viewToPurchaseJoinOuter(
      views.toDF().toDF("user_id", "ts"),
      purchases.toDF().toDF("user_id", "ts", "value"),
      horizon = "1 HOUR", watermark = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join_outer").start()
    views.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
    purchases.addData((1L, ts("2024-01-01 10:30:00"), 9.0))
    q.processAllAvailable()
    // user 2 is unmatched but must be WITHHELD: the watermark hasn't yet
    // proven no purchase can arrive within its horizon
    val early = spark.table("ss_join_outer").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(early.toMap === Map(1L -> Some(9.0)))
    // advance event time far past watermark + horizon on both sides —
    // the join can now prove user 2's view expired unmatched and flush it
    views.addData((9L, ts("2024-01-02 10:00:00")))
    purchases.addData((9L, ts("2024-01-02 10:00:01"), 1.0))
    q.processAllAvailable()
    val late = spark.table("ss_join_outer").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toMap
    q.stop()
    assert(late(2L) === None, "expired unmatched view must flush with null purchase")
    assert(late(1L) === Some(9.0))
  }

  test("stream-static broadcast enrichment matches batch, keeps unmatched rows") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val events = MemoryStream[(Long, Double)]
    val q = EventStream.enrichWithDim(
      events.toDF().toDF("user_id", "value"), dim, "user_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    events.addData((1L, 10.0), (3L, 7.0)) // user 3 has no dim row
    q.processAllAvailable()
    val out = spark.table("enriched").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    q.stop()
    assert(out === Set((1L, Some("gold")), (3L, None)))
    val batch = EventStream.enrichWithDim(
      Seq((1L, 10.0), (3L, 7.0)).toDF("user_id", "value"), dim, "user_id")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    assert(batch === out)
  }

  test("Trigger.AvailableNow drains the backlog then stops on its own") {
    val srcDir = new java.io.File("target/tmp/avail_now_src")
    org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
    srcDir.mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      srcDir.toPath.resolve("part-0.parquet"))
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val stream = graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1) // still drains everything: AvailableNow
        .parquet(srcDir.getAbsolutePath))
    // the batch-catchup trigger: process all data available NOW in bounded
    // micro-batches, then terminate — the scheduled-backfill shape (the
    // reference's monthly catch-up DAG) without leaving a daemon running
    val q = EventStream.streamingTumbling(stream, "1 hour", "1 hour")
      .writeStream.outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("avail_now").start()
    assert(q.awaitTermination(120000)) // stops by itself
    val total = spark.table("avail_now").agg(sum("n")).head.getLong(0)
    assert(total === graft.Tables(spark, sf001).events.count())
  }

  test("foreachBatch sink lands micro-batches through the idempotent writer") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = "target/tmp/febatch_out"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    val input = MemoryStream[(Timestamp, Long, Double)]
    // the production sink shape: each micro-batch goes through the same
    // dynamic-partition-overwrite writer the batch pipeline uses, so a
    // replayed batch overwrites its own partitions instead of duplicating
    val q = input.toDF().toDF("ts", "user_id", "value")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sources.Sources.partitionedOverwrite(
          batch.withColumn("day", to_date(col("ts"))), outDir, Seq("day"))
      }.start()
    input.addData((ts("2024-01-01 10:00:00"), 1L, 5.0), (ts("2024-01-02 10:00:00"), 2L, 7.0))
    q.processAllAvailable()
    input.addData((ts("2024-01-02 11:00:00"), 3L, 9.0)) // same day -> overwrites day=2024-01-02
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir).select("user_id").collect().map(_.getLong(0)).sorted
    // day 01-01 survives batch 1; day 01-02 holds only batch 2's row
    assert(out.toSeq === Seq(1L, 3L))
  }

  test("streaming query batches probe the prebuilt LSH index via foreachBatch") {
    // the online-retrieval loop end-to-end: the corpus index is built and
    // cached ONCE; each arriving micro-batch of query ids is enriched with
    // its vectors and probes the SAME index — no per-batch rebuild, the
    // streaming twin of the incremental ANN entries.
    implicit val sqlCtx = spark.sqlContext
    val e = Tables(spark, sf001).embeddings
    val corpus = e.filter($"vec_id" >= 20)
    val index = graft.operators.Similarity
      .lshIndexMulti(corpus, "vec_id", "embedding", dim = 64).persist()
    index.count()
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val input = MemoryStream[Long]
    val q = input.toDS().toDF("vec_id")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val withVecs = batch.join(e, "vec_id")
        val topk = graft.operators.Similarity.cosineTopKLshIncremental(
          index, withVecs, "vec_id", "embedding", 10, dim = 64)
        results.synchronized {
          results ++= topk.select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    input.addData(0L to 4L: _*)
    q.processAllAvailable()
    input.addData(5L to 9L: _*)
    q.processAllAvailable()
    q.stop()
    val byQuery = results.groupBy(_._1)
    assert(byQuery.keySet === (0L to 9L).toSet, s"queries seen: ${byQuery.keySet}")
    assert(byQuery.values.forall(_.size === 10), "each probe returns full k")
    // neighbors come from the indexed corpus slice only
    assert(results.forall(_._2 >= 20L))
    index.unpersist()
  }

  test("bounded-stream graded entries equal their batch twins on the sf0.001 feed") {
    val t = Tables(spark, sf001)
    // tumbling agg through the real runtime == the shared batch expression
    val streamed = SparkEntry.queries("stream_tumbling_hourly")(spark, sf001)
      .orderBy("ws").collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    val batch = EventStream.tumblingAgg(t.events, "1 hour")
      .orderBy("ws").collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.toSeq === batch.toSeq)
    // dedup state via the production foreachBatch sink, started twice on one
    // checkpoint: row count == DISTINCT proves the restart re-emitted nothing
    val users = SparkEntry.queries("stream_distinct_users")(spark, sf001)
    assert(users.count() === t.events.select("user_id").distinct().count())
    // custom transformWithState processor == groupBy over exact cents
    val totals = SparkEntry.queries("stream_user_totals")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bt = t.events.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(totals === bt)
    // symmetric stream-stream join state == the batch range join
    val joined = SparkEntry.queries("stream_view_purchase_join")(spark, sf001)
    val v = t.events.filter(col("event_type") === "view")
      .select(col("user_id").as("u"), col("ts").as("vts"))
    val p = t.events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val batchJoin = v.join(p, col("u") === col("pu") &&
      col("pts") >= col("vts") &&
      col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"))
    assert(joined.count() === batchJoin.count())
  }

}
