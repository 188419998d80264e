package graft

import org.scalatest.funsuite.AnyFunSuite

/** Config-level pins for the deployment profiles (no session is created —
  * the builders are validated through their option maps). */
class SessionSpec extends AnyFunSuite {

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
    // ADVICE r3 recurred in r10 (jaro-winkler and contains-any were lazily
    // registered but missing from the --conf path): apply the extensions to
    // a bare SparkSessionExtensions and read back the injected identifiers,
    // so forgetting the injectFunction for a new kernel fails a test instead
    // of a deployment
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(exts)
    val names = exts.getClass.getDeclaredFields.flatMap { f =>
      f.setAccessible(true)
      f.get(exts) match {
        case buf: scala.collection.mutable.Buffer[_] =>
          buf.toSeq.collect {
            case (id: org.apache.spark.sql.catalyst.FunctionIdentifier, _, _) =>
              id.funcName
          }
        case _ => Nil
      }
    }.toSet
    // every kernel under graft/functions with a session registration
    val expected = Set("graft_minhash", "graft_dot", "graft_simhash",
      "graft_rolling_hash", "graft_shingles", "graft_vocab_hits",
      "graft_jaro_winkler", "graft_pq_adc", "graft_contains_any")
    assert(expected.subsetOf(names), s"missing injections: ${expected -- names}")
  }
}
