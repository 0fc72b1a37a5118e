package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session of every test suite: main code's builder,
  * [[Bench.benchSession]], at a fixed 4 cores, so a test's plan, job and
  * task counts depend neither on the machine nor on which suite ran first.
  * A test that needs another conf scopes it with
  * `graft.queries.Confs.withConfs`; one that needs isolation uses
  * `spark.newSession()`.
  */
object TestSession {
  lazy val spark: SparkSession = Bench.benchSession("4")
}
