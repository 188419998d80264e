package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Since r12 it ALSO emits its own machine-readable per-entry summary
  * (`verify_summary.json`: entry → rows + deterministic result hash, or
  * err) both next to the dumps and under the repo's `verify_baselines/` —
  * the committed engine-side twin of the driver's CORRECTNESS artifact,
  * the same single-point-of-failure hardening `bench_baselines/` gives
  * the bench (r11: the driver's CORRECTNESS came back `{}` with no engine
  * defect; a round must never again lose its headline signal to one
  * out-of-repo artifact). The hash is over the dump AS WRITTEN (what the
  * checker reads back), columns sorted by name, rows sorted by their
  * rendered form — the same canonicalization the oracle compare uses. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev-loop only: an optional 3rd arg regex restricts which queries run
    // (the driver always passes exactly 2 args => full sweep)
    val nameFilter = args.drop(2).headOption.map(_.r)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(GraftSession.baseConf)
      .config("spark.sql.warehouse.dir", "target/tmp/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Stale-output guard (ADVICE r3): a query that throws must not leave the
    // PREVIOUS run's parquet dump behind for the checker to validate — wipe
    // the whole outDir so absence == failure. Scoped to full sweeps only:
    // a filtered dev run must not destroy the other queries' dumps.
    val root = Paths.get(outDir)
    if (nameFilter.isEmpty && Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    new java.io.File(outDir).mkdirs()

    // deterministic value rendering for the summary hash (doubles via
    // toString, null as a sentinel no data value contains)
    def render(v: Any): String = v match {
      case null => "\u2400" // sentinel no data value contains
      case d: java.lang.Double => d.toString
      case f: java.lang.Float => f.toString
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }
          .sorted.mkString("{", ",", "}")
      case r: org.apache.spark.sql.Row =>
        r.toSeq.map(render).mkString("(", ",", ")")
      case x => x.toString
    }
    // entry -> Right((rows, hash)) | Left(err)
    val summary = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, (Long, String)]]
    def hashDump(path: String): (Long, String) = {
      val back = spark.read.parquet(path)
      val cols = back.columns.sorted
      val n = back.count()
      if (n > 200000L) (n, "rows_only") // dumps are aggregates; cap the collect
      else {
        // Cells are joined with \u0001 (invisible in most viewers — ADVICE
        // r12 misread it as ""): a real separator, so ("ab","c") and
        // ("a","bc") hash differently. \u0001 never appears in render's
        // own output (null is \u2400); keeping it keeps the committed
        // 334-hash baseline valid.
        val lines = back.select(cols.map(org.apache.spark.sql.functions.col): _*)
          .collect().map(_.toSeq.map(render).mkString("")).sorted
        val md = java.security.MessageDigest.getInstance("MD5")
        lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
        (n, md.digest().map(b => f"$b%02x").mkString)
      }
    }

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => nameFilter.forall(_.findFirstIn(n).isDefined) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        summary(name) = Right(hashDump(s"$outDir/$name"))
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        summary(name) = Left(Option(e.getMessage).getOrElse(e.getClass.getName))
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // the engine-side summary: next to the dumps, and (full sweeps only)
    // as the committed verify_baselines/<sf>.json twin
    val entriesJson = summary.toSeq.sortBy(_._1).map {
      case (k, Right((rows, hash))) => s"${q(k)}: {\"rows\": $rows, \"hash\": ${q(hash)}}"
      case (k, Left(err)) => s"${q(k)}: {\"err\": ${q(err)}}"
    }.mkString(",\n  ")
    val nOk = summary.valuesIterator.count(_.isRight)
    val nErr = summary.size - nOk
    val summaryJson =
      s"""{
         |  "sf_dir": ${q(sfDir)},
         |  "n_entries": ${summary.size},
         |  "n_ok": $nOk,
         |  "n_err": $nErr,
         |  "entries": {
         |  $entriesJson
         |}}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), summaryJson)
    if (nameFilter.isEmpty) {
      val sfTag = new java.io.File(sfDir).getName
      // ADVICE r12: don't trust the CWD — if the JVM is launched from
      // anywhere but the repo root, a bare relative path silently strands
      // the committed twin elsewhere (the exact single-point-of-failure
      // this record exists to remove). Resolve against an explicit root
      // (env/prop), else a repo marker (build.sbt beside a src/ dir) found
      // from CWD, else fall back to CWD; always log the absolute path.
      val repoRoot: java.nio.file.Path =
        sys.env.get("SPARK_GRAFT_REPO_ROOT")
          .orElse(sys.props.get("graft.repo.root")) match {
          case Some(r) => Paths.get(r)
          case None =>
            Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
              .takeWhile(_ != null).take(6)
              .find(p => Files.exists(p.resolve("build.sbt")) &&
                Files.isDirectory(p.resolve("src")))
              .getOrElse(Paths.get("").toAbsolutePath)
        }
      val balDir = repoRoot.resolve("verify_baselines")
      Files.createDirectories(balDir)
      val balFile = balDir.resolve(s"$sfTag.json")
      Files.writeString(balFile, summaryJson)
      System.err.println(s"[verify] baseline twin written: ${balFile.toAbsolutePath}")
    }
    QuietShutdown(spark)
  }
}
