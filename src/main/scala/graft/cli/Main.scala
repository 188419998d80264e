package graft.cli

import graft.{GraftSession, Tables}
import graft.operators.Cleaning
import graft.functions.TextOps
import graft.quality.Gates
import graft.sources.Sources
import graft.warehouse.StarSchema
import graft.ml.{FarePipeline, ModelRegistry}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-stage CLI mirroring the reference's spark-submit surfaces
  * (`Ex02DataIngestion.scala:15-31` arg parsing; `src/ml_pipeline.py`
  * arguments). One binary, subcommand per stage:
  *
  *   graft.cli.Main ingest    --input DIR --output DIR --year Y --month M
  *   graft.cli.Main warehouse --input DIR --output DIR
  *   graft.cli.Main analytics --input DIR --query NAME [--output DIR]
  *   graft.cli.Main ml        --input DIR --model-dir DIR --test-month YYYY-MM
  *   graft.cli.Main dedup     --input DIR --output DIR [--threshold T]
  *   graft.cli.Main textprep  --input DIR --output DIR
  *   graft.cli.Main chunk     --input DIR --output DIR [--size N --overlap M]
  *
  * Exit codes follow the reference (`ml_pipeline.py:533-540`):
  * 0 success, 1 failure, 2 missing input data.
  */
object Main {

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val code = run(args)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  /** Exit-code-returning body, testable without killing the JVM (CliSpec
    * asserts the exit-2 skip path). Does NOT stop the session — `main`
    * owns that, so tests can call this against their shared session. */
  def run(args: Array[String]): Int = {
    if (args.isEmpty) {
      System.err.println(
        "usage: <ingest|warehouse|analytics|ml|dedup|textprep|chunk> --input DIR ...")
      return 1
    }
    val cmd = args.head
    val opt = parse(args.tail)
    val input = opt.getOrElse("input", "/root/testdata/sf0.001")
    // ADVICE r3: build the real session FIRST and reuse it for the probe —
    // a throwaway local(4,4) here would win getOrCreate and silently pin
    // every stage to 4 cores / 4 shuffle partitions.
    val spark = GraftSession.local()
    // availability short-circuit (Gates.availabilityGate semantics): a
    // missing month is SKIP + exit 2, not a failure (ml_pipeline.py:533-540)
    if (!Sources.pathExists(spark, s"$input/events.parquet")) {
      System.err.println(s"[graft] missing input data under $input")
      return 2
    }
    try {
      cmd match {
        case "ingest" =>
          val (y, m) = (opt.getOrElse("year", "2024").toInt, opt.getOrElse("month", "1").toInt)
          val out = opt.getOrElse("output", "target/tmp/cli_ingest")
          val cleaned = Cleaning.nullGuards(
            Cleaning.monthWindow(Tables(spark, input).events, "ts", y, m),
            requiredNonNull = Seq("ts", "event_type"), nonNegative = Seq("value"))
            .withColumn("day", to_date(col("ts")))
          val gate = Gates.retentionGate(Tables(spark, input).events,
            Cleaning.monthWindowPredicate(col("ts"), y, m)).head()
          Sources.partitionedOverwrite(cleaned, out, Seq("day"))
          println(s"[graft] ingest $y-$m -> $out rows=${spark.read.parquet(out).count()} " +
            s"retention=${gate.getDouble(2)} status=${gate.getString(3)}")

        case "warehouse" =>
          val out = opt.getOrElse("output", "target/tmp/cli_dw")
          val t = Tables(spark, input)
          StarSchema.dimDate(t.orders, "o_orderdate")
            .write.mode("overwrite").parquet(s"$out/dim_date")
          StarSchema.dimTime(t.events, "ts")
            .write.mode("overwrite").parquet(s"$out/dim_time")
          StarSchema.seededPaymentDim(spark)
            .write.mode("overwrite").parquet(s"$out/dim_payment_type")
          println(s"[graft] warehouse dims -> $out")

        case "analytics" =>
          val name = opt.getOrElse("query", "a1_kpi_global")
          val df = graft.SparkEntry.queries(name)(spark, input)
          opt.get("output") match {
            case Some(out) => df.write.mode("overwrite").parquet(s"$out/$name")
            case None => df.show(20, truncate = false)
          }

        case "ml" =>
          val testMonth = opt.getOrElse("test-month", "2024-01")
          val modelDir = opt.getOrElse("model-dir", "target/tmp/cli_models")
          val (train, test) = ModelRegistry.slidingWindow(testMonth)
          println(s"[graft] sliding window: train=$train test=$test")
          val data = FarePipeline.features(Tables(spark, input).lineitem)
          val (model, metrics) = FarePipeline.trainEval(data, "label",
            maxDepth = opt.getOrElse("max-depth", "5").toInt,
            maxIter = opt.getOrElse("max-iter", "10").toInt)
          val candidate = s"$modelDir/candidate-$testMonth"
          FarePipeline.save(model, candidate)
          val reg = new ModelRegistry.Registry(modelDir)
          val promoted = reg.register(candidate,
            ModelRegistry.Metrics(metrics("rmse"), metrics("mae"), metrics("r2")),
            testMonth)
          println(s"[graft] ml metrics=$metrics promoted=$promoted")

        case "dedup" =>
          // end-to-end near-dup pass over the documents table: MinHash-LSH
          // candidates, exact verify, cluster labels, collapse accounting
          val out = opt.getOrElse("output", "target/tmp/cli_dedup")
          val threshold = opt.getOrElse("threshold", "0.8").toDouble
          val docs = Tables(spark, input).documents
          val pairs = graft.operators.Dedup
            .minhashDedupPairs(docs, "doc_id", "text", threshold)
          pairs.write.mode("overwrite").parquet(s"$out/pairs")
          val labels = graft.operators.Dedup.connectedComponents(pairs)
          labels.write.mode("overwrite").parquet(s"$out/clusters")
          val nPairs = pairs.count()
          val nClustered = labels.count()
          println(s"[graft] dedup threshold=$threshold pairs=$nPairs " +
            s"clustered_docs=$nClustered -> $out")

        case "textprep" =>
          // end-to-end training-data prep: quality gate -> PII scrub ->
          // lang tag -> deterministic split, written partitioned by split
          // so each consumer reads only its partition
          val out = opt.getOrElse("output", "target/tmp/cli_textprep")
          val docs = Tables(spark, input).documents
          val gated = opt.getOrElse("gate", "gopher") match {
            case "none" => docs
            case "gopher" => docs.join(TextOps.gopherRules(docs, "doc_id", "text")
              .filter(col("keep")).select("doc_id"), "doc_id")
            case other => throw new IllegalArgumentException(s"unknown gate: $other")
          }
          val prepped = gated
            .withColumn("text", TextOps.piiScrub(col("text")))
            .withColumn("lang_id", TextOps.langId(col("text")))
            .join(TextOps.hashSplit(docs, "doc_id"), "doc_id").persist()
          // an aggressive gate legitimately keeps 0 docs: report, don't
          // write an unreadable empty partitioned dir
          val kept = prepped.count()
          if (kept > 0) Sources.partitionedOverwrite(prepped, out, Seq("split"))
          prepped.unpersist()
          println(s"[graft] textprep kept=$kept/${docs.count()}" +
            (if (kept > 0) s" -> $out" else " (nothing written)"))

        case "chunk" =>
          // RAG chunk table for an indexing/similarity consumer
          val out = opt.getOrElse("output", "target/tmp/cli_chunks")
          val size = opt.getOrElse("size", "120").toInt
          val overlap = opt.getOrElse("overlap", "30").toInt
          val chunks = TextOps.chunk(
            Tables(spark, input).documents, "doc_id", "text", size, overlap)
          chunks.write.mode("overwrite").parquet(out)
          println(s"[graft] chunk size=$size overlap=$overlap " +
            s"chunks=${spark.read.parquet(out).count()} -> $out")

        case other =>
          System.err.println(s"[graft] unknown command: $other"); return 1
      }
      0
    } catch {
      case scala.util.control.NonFatal(e) =>
        // full diagnostics: getMessage alone is null for NPEs and the
        // operator of a failed production run needs the trace
        System.err.println(s"[graft] $cmd failed: $e")
        e.printStackTrace()
        1
    }
  }
}
