package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the one-path rule: streaming runs start only in
  * `queries/StreamRun.scala`, session confs are written only through
  * `queries/Confs.scala`, SQL functions are registered only by
  * `GraftExtensions.scala`, listener-based profiling lives only in
  * `tools/Profile.scala`, `graft.spark` reads no conf or environment
  * variable, graft has no code in `org.apache.spark.sql`, no option splits
  * a `SparkClient` wave, `SparkClient` runs one kind of Spark job (its
  * evaluator) and no thread pool, `org.apache.spark.rpc` is named only in
  * the `GraftRpc` shim, `Bench.envCpus` is the one reader of
  * `SPARK_GRAFT_CPUS`, `FileSources` alone decides the key and the
  * completion marker of an on-disk cache, `IdPack` alone holds the 2³² id
  * packing, `SessionMemo` alone keys in-memory memos, only Bench sweeps
  * persisted RDDs by hand, the media rows read payloads through
  * `Media.payloads` and decode images through `Media.codecs` alone, a
  * staged stream input is read back only through `FileSources.replay`,
  * `RunningTotals` alone builds its processor, and no scaladoc block sits
  * directly above another, where Scaladoc attaches it to nothing. In the
  * test sources (this file aside), `TestSession` is the one session, so no
  * test names `SparkSession.builder`, and only StreamRunSpec, which tests
  * how `StreamRun` restores confs, writes a session conf by hand; every
  * other test scopes its confs with `Confs.withConfs`.
  * Keeps hand-rolled copies from growing back.
  */
class OnePathSpec extends AnyFunSuite {

  private def scan(dir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(dir)
    require(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val stream = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
    } finally stream.close()
  }

  private lazy val sources: Seq[(String, String)] = scan("src/main/scala")

  // this file names every token its pins ban
  private lazy val testSources: Seq[(String, String)] =
    scan("src/test/scala").filterNot(_._1.endsWith("graft/OnePathSpec.scala"))

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

  /** Lines of `path` with comments dropped. */
  private def codeLines(path: String): Seq[String] =
    sources.collect { case (p, s) if p.endsWith(path) => s.linesIterator.map(_.trim).toSeq }.flatten
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))

  test("SparkClient starts no thread pool and one kind of job, its evaluator") {
    val code = codeLines("graft/spark/SparkClient.scala")
    assert(code.nonEmpty)
    assert(!code.exists(_.contains("newFixedThreadPool")))
    assert(code.count(_.contains("runJob(")) == 1, code.filter(_.contains("runJob(")))
  }

  test("org.apache.spark.rpc is named only in the GraftRpc shim") {
    assert(filesWith("org.apache.spark.rpc", "org/apache/spark/GraftRpc.scala").isEmpty)
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

  test("getPersistentRDDs appears in no main source but Bench.scala") {
    assert(filesWith("getPersistentRDDs") == Seq("graft/Bench.scala"))
  }

  test("a memo key is SessionMemo's: the sameGroup lambdas stay gone") {
    assert(filesWith("sameGroup").isEmpty)
  }

  test("FileSources.fingerprint( is called outside FileSources only by the CBO table") {
    assert(filesWith("FileSources.fingerprint(") == Seq("graft/queries/Relational.scala"))
    assert(sources.map(_._2.split("FileSources\\.fingerprint\\(", -1).length - 1).sum == 1)
  }

  test("only Media.payloads reads documents into MediaRow") {
    val reads = sources.map { case (p, s) =>
      p -> Seq("as[MediaRow]", "as[Media.MediaRow]")
        .map(t => s.split(java.util.regex.Pattern.quote(t), -1).length - 1).sum
    }.filter(_._2 > 0)
    assert(reads == Seq("graft/multimodal/Media.scala" -> 1), reads)
  }

  test("decodeBmp is called only through Media's codec table") {
    // code lines (comments dropped) naming decodeBmp: its definition and
    // its codec-table entry
    val uses = sources.map { case (p, s) =>
      p -> s.linesIterator.map(_.trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
        .filter(_.contains("decodeBmp")).toSeq
    }.filter(_._2.nonEmpty)
    assert(uses.map(_._1) == Seq("graft/multimodal/Media.scala"), uses)
    val lines = uses.head._2
    assert(lines.size == 2 && lines.exists(_.startsWith("def decodeBmp(")) &&
      lines.exists(_.contains("ImageCodec(encodeBmp, decodeBmp")), lines)
  }

  test("the folded Bloom, centroid and oracle-less forks stay gone") {
    for (token <- Seq("bloomPrefilterPartitioned", "embedCentroidsTreeAgg", "rowsOnly"))
      assert(filesWith(token).isEmpty, token)
  }

  private def count(path: String, token: String): Int =
    sources.collect { case (p, s) if p.endsWith(path) =>
      s.split(java.util.regex.Pattern.quote(token), -1).length - 1 }.sum

  test("a staged stream input is read through FileSources.replay: Events streams only eventsStream") {
    assert(count("graft/queries/Events.scala", "readStream") == 1)
    assert(sources.exists { case (p, s) =>
      p.endsWith("graft/queries/Events.scala") && s.contains("normalizeTs(spark.readStream")
    })
    assert(count("graft/queries/AnnIngest.scala", "readStream") == 0)
    for (file <- Seq("graft/queries/Events.scala", "graft/queries/AnnIngest.scala"))
      assert(count(file, "StructType.fromDDL") == 0, file)
  }

  test("only RunningTotals.scala constructs the RunningTotals processor") {
    for (token <- Seq("new RunningTotals", "new graft.streaming.RunningTotals"))
      assert(filesWith(token, "graft/streaming/RunningTotals.scala").isEmpty, token)
  }

  test("no scaladoc block sits directly above another") {
    val orphans = sources.flatMap { case (p, s) =>
      s.linesIterator.map(_.trim).sliding(2).zipWithIndex.collect {
        case (Seq(prev, line), i) if prev.endsWith("*/") && line.startsWith("/**") => s"$p:${i + 2}"
      }
    }
    assert(orphans.isEmpty, orphans)
  }

  test("no test source builds a session: every suite runs on TestSession") {
    assert(testSources.exists(_._1.endsWith("graft/TestSession.scala")))
    assert(testSources.collect { case (p, s) if s.contains("SparkSession.builder") => p }.isEmpty)
  }

  test("among test sources only StreamRunSpec.scala sets or unsets a session conf") {
    for (token <- Seq("spark.conf.set(", "conf.unset("))
      assert(testSources.collect {
        case (p, s) if s.contains(token) && !p.endsWith("graft/queries/StreamRunSpec.scala") => p
      }.isEmpty, token)
  }

  test("no tool waits on Spark with Thread.sleep") {
    assert(sources.collect {
      case (p, s) if p.startsWith("graft/tools/") && s.contains("Thread.sleep") => p
    }.isEmpty)
  }
}
