package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the one-path rule: streaming runs start only in
  * `queries/StreamRun.scala`, and session confs are scoped only through
  * `queries/Confs.scala`. Keeps hand-rolled copies from growing back.
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

  test("the retired scoping wrappers stay gone") {
    assert(filesWith("withStreamPartitions").isEmpty)
    assert(filesWith("withStateStoreProvider").isEmpty)
  }
}
