package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.functions._

import graft.operators.Cleaning
import graft.quality.Gates
import graft.sources.Sources
import graft.warehouse.StarSchema
import graft.ml.FarePipeline

/** One timed operation: a DAG stage, a dashboard query or a curation entry.
  * `failed` holds the exception or the output mismatch, if any. */
final case class OpSample(name: String, seconds: Double, failed: Option[String])

/** One full pass of a workload: wall and process CPU seconds, each with
  * the part spent in model training and scoring (`ml*`), and the pass's
  * per-layer figures. */
final case class PassResult(ops: Seq[OpSample], seconds: Double, mlSeconds: Double,
                            cpuSeconds: Double, mlCpuSeconds: Double, layer: Map[String, Double])

trait Workload {
  /** Generates the inputs; part of set-up. Returns the input size in bytes. */
  def prepare(spark: SparkSession): Long
  def pass(spark: SparkSession, passNo: Int): PassResult
}

/** Runs operations: one Spark job group per operation (so the listener
  * can count its jobs), a span around it, and failure capture that keeps
  * the operation in the attempt count. */
final class OpRunner(spark: SparkSession, trace: Trace) {
  val samples = mutable.ArrayBuffer.empty[OpSample]

  def apply[T](name: String, span: String)(body: => T)(check: T => Option[String]): Option[T] = {
    spark.sparkContext.setJobGroup(name, name)
    val t0 = System.nanoTime()
    val result = try Right(trace(span)(body)) catch { case e: Throwable => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.clearJobGroup()
    val failure = result match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      case Right(v) => try check(v) catch { case e: Throwable => Some(s"check threw ${e.getMessage}") }
    }
    samples += OpSample(name, seconds, failure)
    failure.foreach(f => System.err.println(s"[perfbench] $name failed: $f"))
    result.toOption.filter(_ => failure.isEmpty)
  }
}

/** The reference's monthly DAG on a seeded synthetic month: ingest and
  * clean, partitioned sink written twice, quality gates, star-schema
  * dimensions and an idempotent fact load run twice, then GBT fare model
  * fit, batch scoring and evaluation. */
final class TaxiMonthDag(seed: Long, rows: Long, cores: Int, trace: Trace, workDir: String)
    extends Workload {
  val plan: TaxiMonth.Plan = TaxiMonth.plan(rows)
  private val rawPath = s"$workDir/raw"
  private val sinkPath = s"$workDir/sink"
  private val whPath = s"$workDir/warehouse"
  private val naturalKey = Seq("pickup_date", "pickup_time", "pickup_location_id",
    "dropoff_location_id", "vendor_id")

  def prepare(spark: SparkSession): Long =
    TaxiMonth.write(spark, seed, plan, cores, rawPath)

  private def cleaned(spark: SparkSession): DataFrame = {
    val casted = Cleaning.castProjection(spark.read.parquet(rawPath), TaxiMonth.casts)
    Cleaning.nullGuards(
      Cleaning.monthWindow(casted, "tpep_pickup_datetime", TaxiMonth.Year, TaxiMonth.Month),
      requiredNonNull = Seq("tpep_dropoff_datetime", "PULocationID", "DOLocationID"),
      nonNegative = Seq("trip_distance", "total_amount"),
      keepNullable = Seq("passenger_count"))
  }

  /** The cleaning rule as one predicate, for the retention gate. */
  private val keep = Cleaning.monthWindowPredicate(col("tpep_pickup_datetime"), TaxiMonth.Year,
    TaxiMonth.Month) && col("tpep_dropoff_datetime").isNotNull &&
    col("PULocationID").isNotNull && col("DOLocationID").isNotNull &&
    col("trip_distance").isNotNull && col("trip_distance") >= 0 &&
    col("total_amount").isNotNull && col("total_amount") >= 0 &&
    (col("passenger_count").isNull || col("passenger_count") >= 0)

  private def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  def pass(spark: SparkSession, passNo: Int): PassResult = {
    Dirs.delete(sinkPath)
    Dirs.delete(whPath)
    val op = new OpRunner(spark, trace)
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val probe = Main.probe
    val t0 = System.nanoTime()
    val cpu0 = Probe.processCpuS()
    def since(t: Long) = (System.nanoTime() - t) / 1e9

    // ingest: cast block, month window, null guards; the count forces it
    val kept = op("clean", "operators.Cleaning/clean")(cleaned(spark).count())(n =>
      expect("kept rows", n, plan.kept))
    layer("cleaning.s") = op.samples.last.seconds
    layer("cleaning.retention") = kept.getOrElse(0L).toDouble / plan.rows

    // sink: month-partitioned overwrite, then the same month again (a re-run)
    val before = probe.snapshot(spark.sparkContext)
    val files = (1 to 2).map { k =>
      op(s"sink_write_$k", "sources.Sources/partitionedOverwrite") {
        Sources.partitionedOverwrite(
          cleaned(spark).withColumn("pickup_year", year(col("tpep_pickup_datetime")))
            .withColumn("pickup_month", month(col("tpep_pickup_datetime"))),
          sinkPath, Seq("pickup_year", "pickup_month"))
        Dirs.parquetFiles(sinkPath).size
      }(n => if (n > 0) None else Some("sink is empty")).getOrElse(0)
    }
    val written = probe.snapshot(spark.sparkContext) - before
    layer("sources.write_s") = op.samples.takeRight(2).map(_.seconds).sum
    layer("sources.bytes_written") = written.bytesWritten.toDouble
    layer("sources.files_written") = files.sum.toDouble
    val sink = () => spark.read.parquet(sinkPath)

    // gates: retention over the raw month, row floor over the sink
    val gates = op("gates", "quality.Gates/retention+floor") {
      val casted = Cleaning.castProjection(spark.read.parquet(rawPath), TaxiMonth.casts)
      val r = Gates.retentionGate(casted, keep).collect().head
      val f = Gates.floorGate(sink()).collect().head
      (r.getAs[Long]("kept_rows"), r.getAs[String]("status"), f.getAs[Long]("n_rows"),
        f.getAs[String]("status"))
    } { case (k, rs, n, fs) =>
      expect("retention gate kept", k, plan.kept)
        .orElse(expect("sink rows", n, plan.kept))
        .orElse(if (rs == "FAIL" || fs == "FAIL") Some(s"gate FAIL: retention $rs, floor $fs") else None)
    }
    layer("gates.s") = op.samples.last.seconds
    layer("gates.failed") = gates.map { case (_, rs, _, fs) => Seq(rs, fs).count(_ == "FAIL") }
      .getOrElse(2).toDouble

    // warehouse: dimensions, then the idempotent fact load, run twice
    op("dims", "warehouse.StarSchema/dims") {
      val s = sink()
      val dims = Seq(
        "dim_date" -> StarSchema.dimDate(s, "tpep_pickup_datetime"),
        "dim_time" -> StarSchema.dimTime(s, "tpep_pickup_datetime"),
        "dim_location" -> StarSchema.dimFromDistinct(
          s.select(col("PULocationID").as("location_id")).union(
            s.select(col("DOLocationID").as("location_id"))), Seq("location_id")),
        "dim_payment_type" -> StarSchema.seededPaymentDim(spark))
      // rows per dimension, from the task output metrics of its write
      dims.map { case (n, d) =>
        val c0 = probe.snapshot(spark.sparkContext)
        d.write.mode("overwrite").parquet(s"$whPath/$n")
        n -> (probe.snapshot(spark.sparkContext) - c0).recordsWritten
      }.toMap
    }(rows => expect("dim_date rows", rows("dim_date"), 31L)
      .orElse(expect("dim_payment_type rows", rows("dim_payment_type"), 7L)))
    layer("warehouse.dims_s") = op.samples.last.seconds

    val factPath = s"$whPath/fact_trip"
    val batch = () => sink().select(
      to_date(col("tpep_pickup_datetime")).as("pickup_date"),
      (hour(col("tpep_pickup_datetime")) * 3600 + minute(col("tpep_pickup_datetime")) * 60 +
        second(col("tpep_pickup_datetime"))).as("pickup_time"),
      col("PULocationID").as("pickup_location_id"),
      col("DOLocationID").as("dropoff_location_id"),
      col("VendorID").as("vendor_id"),
      col("payment_type").as("payment_type_id"),
      col("passenger_count"), col("trip_distance"), col("fare_amount"), col("total_amount"))
    // rows appended = records the append wrote, from the task output metrics
    val loads = (1 to 2).map { k =>
      op(s"fact_load_$k", "warehouse.StarSchema/idempotentAppend") {
        val b = batch()
        val existing = if (k == 1) b.filter(lit(false)) else spark.read.parquet(factPath)
        val c0 = probe.snapshot(spark.sparkContext)
        StarSchema.idempotentAppend(b, existing, naturalKey).write.mode("append").parquet(factPath)
        (probe.snapshot(spark.sparkContext) - c0).recordsWritten
      }(n => if (k == 1) expect("fact rows", n, plan.factRows) else expect("re-run appended rows", n, 0L))
    }
    layer("warehouse.fact_load_s") = op.samples.takeRight(2).map(_.seconds).sum
    layer("warehouse.fact_rows") = loads.head.getOrElse(-1L).toDouble
    layer("warehouse.rerun_appended_rows") = loads(1).getOrElse(-1L).toDouble
    val etlSeconds = since(t0)
    val cpuMl = Probe.processCpuS()

    // ML: features, fit, batch scoring, evaluation
    val tMl = System.nanoTime()
    val data = op("ml_features", "ml.FarePipeline/features") {
      val d = TaxiFeatures(sink())
      val Array(train, test) = d.randomSplit(Array(0.8, 0.2), 42L)
      train.persist(); test.persist()
      (d, train, test, train.count() + test.count())
    }(x => if (x._4 > 0) None else Some("no feature rows"))
    layer("ml.features_s") = op.samples.last.seconds
    val model = op("ml_fit", "ml.FarePipeline/fit") {
      FarePipeline.buildPipeline(TaxiFeatures.categorical, TaxiFeatures.numeric, TaxiFeatures.label,
        maxDepth = 3, maxIter = 2).fit(data.get._2)
    }(_ => None)
    layer("ml.fit_s") = op.samples.last.seconds
    val scored = op("ml_score", "ml.FarePipeline/score") {
      model.get.transform(data.get._1)
        .agg(count(lit(1)), min(col("prediction")), max(col("prediction"))).collect().head
    }(r => if (r.getLong(0) == data.get._4 && r.getDouble(1).isFinite && r.getDouble(2).isFinite) None
      else Some(s"scored ${r.getLong(0)} of ${data.get._4} rows, range [${r.get(1)}, ${r.get(2)}]"))
    layer("ml.score_s") = op.samples.last.seconds
    layer("ml.score_rows_per_s") = scored.map(_.getLong(0) / op.samples.last.seconds).getOrElse(0.0)
    val metrics = op("ml_evaluate", "ml.FarePipeline/evaluate") {
      FarePipeline.evaluate(model.get.transform(data.get._3), TaxiFeatures.label)
    }(m => if (m("rmse") < 10 && m("mae") < 15 && m("r2") > 0) None else Some(s"ML gates: $m"))
    layer("ml.rmse") = metrics.map(_("rmse")).getOrElse(-1.0)
    data.foreach { case (_, train, test, _) => train.unpersist(); test.unpersist() }
    val mlSeconds = since(tMl)

    val cpu1 = Probe.processCpuS()
    PassResult(op.samples.toSeq, etlSeconds + mlSeconds, mlSeconds, cpu1 - cpu0, cpu1 - cpuMl, layer.toMap)
  }
}

/** The fare model's feature frame, following the reference's feature
  * step: duration and pickup-calendar features, ML-side quality filter,
  * dropna on the modeling columns, and the monetary components dropped. */
object TaxiFeatures {
  val categorical = Seq("VendorID", "RatecodeID", "payment_type")
  val numeric = Seq("trip_distance", "passenger_count", "trip_duration_min", "pickup_hour",
    "pickup_dayofweek")
  val label = "total_amount"

  def apply(trips: DataFrame): DataFrame = {
    val pickup = col("tpep_pickup_datetime")
    trips
      .withColumn("trip_duration_min",
        (unix_timestamp(col("tpep_dropoff_datetime")) - unix_timestamp(pickup)) / 60.0)
      .withColumn("pickup_hour", hour(pickup))
      .withColumn("pickup_dayofweek", dayofweek(pickup))
      .withColumn("pickup_month", month(pickup))
      .filter(col("trip_duration_min") > 0 && col("trip_duration_min") <= 24 * 60)
      .na.drop(categorical ++ numeric :+ label)
      .drop("fare_amount", "extra", "mta_tax", "tip_amount", "tolls_amount",
        "improvement_surcharge", "congestion_surcharge", "airport_fee")
  }
}

/** A seeded closed-loop sequence over registry entries: one client, each
  * entry's result collected and hashed before the next is sent. Inputs
  * are fixed; the seed only orders the entries within each pass. */
final class RegistryWorkload(layer: String, entries: Seq[String], seed: Long,
                             dataDir: String, expected: Map[String, (Long, String)], trace: Trace)
    extends Workload {
  private val queries = entries.map(e => e -> graft.SparkEntry.queries(e)).toMap

  def prepare(spark: SparkSession): Long = Dirs.parquetBytes(dataDir)

  def pass(spark: SparkSession, passNo: Int): PassResult = {
    val op = new OpRunner(spark, trace)
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val order = new scala.util.Random(seed * 1000003L + passNo).shuffle(entries)
    val t0 = System.nanoTime()
    val cpu0 = Probe.processCpuS()
    order.foreach { e =>
      op(e, s"bench/$e") {
        val b0 = System.nanoTime()
        val df = trace(s"$layer/$e")(queries(e)(spark, dataDir))
        val b1 = System.nanoTime()
        val rows = trace(s"spark.collect/$e")(df.collect())
        val b2 = System.nanoTime()
        val t = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
        val ph = (p: String) => t.getOrElse(p, 0.0)
        val (an, opt, pl) = (ph(QueryPlanningTracker.ANALYSIS), ph(QueryPlanningTracker.OPTIMIZATION),
          ph(QueryPlanningTracker.PLANNING))
        phases("build_s") += (b1 - b0) / 1e9 - an
        phases("analyze_s") += an
        phases("optimize_s") += opt
        phases("plan_s") += pl
        phases("exec_s") += (b2 - b1) / 1e9 - opt - pl
        phases(s"$e.s") += (b2 - b0) / 1e9
        (rows.length.toLong, trace(s"bench/hash")(ResultHash(df.schema, rows)))
      }(got => expect(e, got))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val n = entries.size.toDouble
    val perLayer = Seq("build_s", "analyze_s", "optimize_s", "plan_s", "exec_s")
      .map(k => s"analytics.$k" -> phases(k) / n).toMap ++
      (if (layer == "registry.curation") entries.map(e => s"curation.${e}_s" -> phases(s"$e.s")) else Nil)
    PassResult(op.samples.toSeq, seconds, 0.0, Probe.processCpuS() - cpu0, 0.0, perLayer)
  }

  private def expect(e: String, got: (Long, String)): Option[String] =
    expected.get(e) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"rows/hash $got, expected $want")
      case None => Some("no expected hash")
    }
}

/** The registry's result hash: columns sorted by name, each row rendered
  * cell by cell, rows sorted, MD5 over the lines. Matches the engine's
  * correctness dump canonicalization, so expected hashes come straight
  * from its committed summaries. */
object ResultHash {
  private def render(v: Any): String = v match {
    case null => "␀"
    case d: java.lang.Double => d.toString
    case f: java.lang.Float => f.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => x.toString
  }

  def apply(schema: org.apache.spark.sql.types.StructType, rows: Array[Row]): String = {
    val idx = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => idx.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
