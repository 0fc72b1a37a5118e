package graft.spark

import graft.TestSession.spark
import graft.search.{Objective, Search, SearchOptions, SearchResult, SerialClient}
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** `Provenance.toDF` against `toRows` on one deterministic (`SerialClient`)
  * search: same schema, same rows in the same order, and a table an
  * aggregate reads without an Exchange.
  */
class ProvenanceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val res: SearchResult = {
    val client = new SerialClient
    try Search.minimize(Objective(x => x.map(v => v * v).sum), Array(10.0, 15.0),
      Array(1.0, 1.0), client,
      SearchOptions(stopratio = 1e-2, batchsize = Some(6), seed = Some(11)))
    finally client.shutdown()
  }

  test("toDF has the schema the EvaluationRow encoder derives") {
    assert(Provenance.toDF(spark, res).schema == Encoders.product[EvaluationRow].schema)
  }

  test("toDF collects to toRows, field for field, in order") {
    def fields(r: EvaluationRow): Seq[Any] =
      r.productIterator.map {
        case a: Array[Double] => a.toSeq
        case v => v
      }.toSeq
    val got = Provenance.toDF(spark, res).collect().toSeq.map(_.toSeq)
    val want = Provenance.toRows(res).map(fields)
    assert(want.size == res.evaluations.size && want.size > 6)
    assert(got == want)
  }

  test("count over toDF plans no Exchange") {
    val counted = Provenance.toDF(spark, res).groupBy().count()
    assert(counted.collect().toSeq == Seq(Row(res.evaluations.size.toLong)))
    val plan = counted.queryExecution.executedPlan
    assert(collect(plan) { case s: LocalTableScanExec => s }.size == 1, plan)
    assert(collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty, plan)
  }
}
