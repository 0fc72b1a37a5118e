package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the one-path rule: streaming runs start only in
  * `queries/StreamRun.scala`, session confs are written only through
  * `queries/Confs.scala`, SQL functions are registered only by
  * `GraftExtensions.scala`, listener-based profiling lives only in
  * `tools/Profile.scala`, `graft.spark` reads no conf or environment
  * variable, graft has no code in `org.apache.spark.sql`, no option splits
  * a `SparkClient` wave, `Bench.envCpus` is the one reader of
  * `SPARK_GRAFT_CPUS`, `FileSources` alone decides the key and the
  * completion marker of an on-disk cache, and `IdPack` alone holds the
  * 2³² id packing.
  * Keeps hand-rolled copies from growing back.
  */
class OnePathSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    require(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val stream = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
    } finally stream.close()
  }

  private def filesWith(token: String, except: String*): Seq[String] =
    sources.collect { case (p, s) if s.contains(token) && !except.exists(p.endsWith) => p }.sorted

  test("the source scan sees the tree") {
    assert(sources.exists(_._1.endsWith("queries/StreamRun.scala")))
    assert(sources.exists(_._1.endsWith("queries/Confs.scala")))
  }

  test(".writeStream appears only in StreamRun.scala") {
    assert(filesWith(".writeStream", "queries/StreamRun.scala").isEmpty)
  }

  test("shuffle width is never set by hand outside Confs.scala") {
    assert(filesWith("spark.conf.set(\"spark.sql.shuffle.partitions\"", "queries/Confs.scala").isEmpty)
    assert(filesWith("spKey", "queries/Confs.scala").isEmpty)
  }

  test("session confs are written only in Confs.scala") {
    for (token <- Seq("conf.set(", "conf.unset("))
      assert(filesWith(token, "queries/Confs.scala").isEmpty, token)
  }

  test("SQL functions are registered only in GraftExtensions.scala") {
    assert(sources.exists(_._1.endsWith("graft/GraftExtensions.scala")))
    for (token <- Seq("createOrReplaceTempFunction", "registerFunction", "injectFunction"))
      assert(filesWith(token, "graft/GraftExtensions.scala").isEmpty, token)
  }

  test("the event-read conf pins stay gone") {
    for (token <- Seq("pinEventReadConfs", "eventReadConfs", "eventReads"))
      assert(filesWith(token).isEmpty, token)
  }

  test("the retired scoping wrappers stay gone") {
    assert(filesWith("withStreamPartitions").isEmpty)
    assert(filesWith("withStateStoreProvider").isEmpty)
  }

  test("the folded probe mains stay gone; Profile is the one listener") {
    val probes = Seq("BenchProbe", "StageProbe", "TaskMetricsProbe", "StreamBand", "ScaleSample")
    assert(sources.exists(_._1.endsWith("graft/tools/Profile.scala")))
    assert(sources.map(_._1).filter(p => probes.exists(n => p.endsWith(s"/$n.scala"))).isEmpty)
    assert(filesWith("addSparkListener", "graft/tools/Profile.scala").isEmpty)
  }

  test("nothing in graft.spark reads a conf or an environment variable") {
    val reads = Seq("spark.conf", "getConf", "sys.env", "System.getenv", "sys.props")
    assert(sources.exists(_._1.startsWith("graft/spark/")))
    assert(sources.collect {
      case (p, s) if p.startsWith("graft/spark/") && reads.exists(s.contains) => p
    }.isEmpty)
  }

  test("a wave is SparkClient's one task unit: no evalPartitions option comes back") {
    assert(sources.exists(_._1.endsWith("graft/spark/SparkClient.scala")))
    assert(filesWith("evalPartitions").isEmpty)
  }

  test("graft has no file in org.apache.spark.sql") {
    assert(sources.collect {
      case (p, s) if p.startsWith("org/apache/spark/sql/") || s.contains("package org.apache.spark.sql") => p
    }.isEmpty)
  }

  test("no main source outside FileSources.scala names _SUCCESS") {
    assert(sources.exists(_._1.endsWith("graft/sources/FileSources.scala")))
    assert(filesWith("_SUCCESS", "graft/sources/FileSources.scala").isEmpty)
  }

  test("a cache key is FileSources.cacheDir: outputCacheDir stays gone") {
    assert(filesWith("outputCacheDir").isEmpty)
  }

  test("Bench is the only reader of SPARK_GRAFT_CPUS") {
    assert(filesWith("\"SPARK_GRAFT_CPUS\"") == Seq("graft/Bench.scala"))
  }

  test("the 2^32 id packing constants appear only in IdPack.scala") {
    assert(sources.exists(_._1.endsWith("graft/queries/IdPack.scala")))
    for (literal <- Seq("4294967296", "4294967295"))
      assert(filesWith(literal, "graft/queries/IdPack.scala").isEmpty, literal)
  }

  test("no tool waits on Spark with Thread.sleep") {
    assert(sources.collect {
      case (p, s) if p.startsWith("graft/tools/") && s.contains("Thread.sleep") => p
    }.isEmpty)
  }
}
