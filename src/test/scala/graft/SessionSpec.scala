package graft

/** Pins for the deployment profiles. The builders are validated through
  * their option maps (building none of them); what a built session carries
  * is checked on fresh sessions of the shared suite session. */
class SessionSpec extends SparkSpec {

  /** The options a builder will apply (read reflectively: the field is
    * Spark-internal, and reading it builds no session). */
  private def options(b: org.apache.spark.sql.SparkSession.Builder): Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]].toMap

  test("base, local and cluster configs all size the codegen class cache") {
    // Spark's default of 100 is below one curation pass's ~145 generated
    // classes, so every pass recompiled everything; the size is JVM-wide
    // and fixed by the first session, so every builder must carry it
    assert(GraftSession.baseConf("spark.sql.codegen.cache.maxEntries").toInt >= 2 * 3853,
      "must hold a full registry sweep's 3,853 classes with headroom")
    val local = options(GraftSession.localBuilder(4, 4))
    val cluster = options(GraftSession.clusterBuilder(3000))
    val objectStore = options(GraftSession.objectStoreBuilder(3000))
    for ((name, conf) <- Seq("local" -> local, "cluster" -> cluster,
                             "objectStore" -> objectStore)) {
      GraftSession.baseConf.foreach { case (k, v) =>
        assert(conf.get(k).contains(v), s"$name builder: $k")
      }
    }
    assert(local("spark.sql.shuffle.partitions") === "4")
    assert(local("spark.master") === "local[4]")
    assert(cluster("spark.sql.shuffle.partitions") === "3000")
    assert(!cluster.contains("spark.master"))
  }

  test("every session is built by GraftSession") {
    // one factory: a main or suite with its own builder would run a config
    // the engine does not ship (and could size the JVM-wide codegen cache)
    val builder = "SparkSession" + ".builder()"
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala"))
    assert(sources.length > 50, "scan found no sources; is the working directory the repo root?")
    val offenders = sources.filter(p => p.getFileName.toString != "GraftSession.scala" &&
      java.nio.file.Files.readString(p).contains(builder))
    assert(offenders.isEmpty, s"${offenders.mkString(", ")} build their own session")
  }

  test("object-store profile carries the S3A deployment block") {
    val conf = GraftSession.objectStoreConf(
      endpoint = Some("http://minio:9000"),
      pathStyleAccess = true, sslEnabled = false)
    assert(conf("spark.hadoop.fs.s3a.impl") ===
      "org.apache.hadoop.fs.s3a.S3AFileSystem")
    assert(conf("spark.hadoop.fs.s3a.endpoint") === "http://minio:9000")
    assert(conf("spark.hadoop.fs.s3a.path.style.access") === "true")
    assert(conf("spark.hadoop.fs.s3a.connection.ssl.enabled") === "false")
    // credentials resolve through the provider chain, never inline keys
    assert(conf("spark.hadoop.fs.s3a.aws.credentials.provider")
      .contains("EnvironmentVariableCredentialsProvider"))
    assert(!conf.values.exists(v => v.contains("AKIA") || v.contains("secret")))
    // rename-free commits: the magic committer must be wired end to end
    assert(conf("spark.hadoop.fs.s3a.committer.name") === "magic")
    assert(conf("spark.hadoop.fs.s3a.committer.magic.enabled") === "true")
    assert(conf("spark.sql.sources.commitProtocolClass")
      .contains("PathOutputCommitProtocol"))
  }

  test("object-store profile omits the endpoint for AWS-native deployments") {
    val conf = GraftSession.objectStoreConf()
    assert(!conf.contains("spark.hadoop.fs.s3a.endpoint"))
    assert(conf("spark.hadoop.fs.s3a.path.style.access") === "false")
    assert(conf("spark.hadoop.fs.s3a.connection.ssl.enabled") === "true")
  }

  test("the --conf extensions entry point installs the entire native function surface") {
    // ADVICE r3 and r10: the lazily registered and the --conf function lists
    // drifted apart twice. Every graft_* name the engine calls, through
    // call_function("graft_...") or inside a SQL/expr string, is read from
    // the sources, so a new kernel call with no injection fails here
    val called = """call_function\("(graft_\w+)"""".r
    val inString = """(graft_\w+)\(""".r
    val names = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).toArray.map(_.toString))
      .filterNot(l => Seq("*", "//", "/*").exists(l.trim.startsWith))
      .flatMap { line =>
        called.findAllMatchIn(line).map(_.group(1)) ++
          inString.findAllMatchIn(line).collect {
            // a call inside a string: odd quote count before it, or a
            // stripMargin line of a multi-line SQL literal
            case m if line.take(m.start).count(_ == '"') % 2 == 1 ||
                      line.trim.startsWith("|") => m.group(1)
          }
      }.toSet
    assert(names.size >= 15, s"scan found only ${names.toSeq.sorted}")
    // a fresh session starts from the extensions alone: nothing an earlier
    // query registered on the shared session carries over
    val fresh = spark.newSession()
    val missing = names.filterNot(n => fresh.catalog.functionExists(n))
    assert(missing.isEmpty, s"unresolved on a fresh session: ${missing.toSeq.sorted}")
    assert(fresh.sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy))
  }

  test("reading the events feed leaves the session config unchanged") {
    // nanosAsLong is set once, in baseConf, never while a query is built
    val s = spark.newSession()
    val before = s.conf.getAll
    Tables(s, sf001).events.schema
    graft.streaming.EventStream.eventsStream(s, sf001).schema
    val after = s.conf.getAll.toSet
    val changed = (after diff before.toSet) ++ (before.toSet diff after)
    assert(changed.isEmpty, s"reading the feed changed ${changed.mkString(", ")}")
  }

  test("the engine's catalogs are registered once: catalog queries leave the config unchanged") {
    // tiles_cat and graft_fns come from baseConf, never from a query
    val s = spark.newSession()
    val before = s.conf.getAll
    for (name <- Seq("f13_catalog_functions", "s21_tiles_sql_ddl"))
      assert(SparkEntry.queries(name)(s, sf001).collect().nonEmpty, name)
    val after = s.conf.getAll.toSet
    val changed = (after diff before.toSet) ++ (before.toSet diff after)
    assert(changed.isEmpty, s"the catalog queries changed ${changed.mkString(", ")}")
  }
}
