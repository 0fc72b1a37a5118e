package graft.queries

import graft.TestSession.spark
import org.scalacheck.{Gen, Prop, Properties}

/** Property pin for the shared in-row pair expansion (code-review r12
  * centralized six copies into Pairs.ordered): for ANY array column —
  * including the empty and singleton rows whose `sequence(0, -1)`
  * descending-range footgun motivated the built-in guard — the expansion
  * equals the naive reference (all i < j element pairs, bag semantics).
  */
object PairsSpec extends Properties("graft.queries.Pairs") {

  private val arrays: Gen[List[List[Long]]] =
    Gen.listOfN(5, Gen.chooseNum(0, 5).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-3L, 9L))))

  property("ordered equals the naive i<j expansion, incl. empty/singleton rows") =
    Prop.forAllNoShrink(arrays) { rows =>
      import spark.implicits._
      val df = rows.toDF("xs")
      val got = Pairs.ordered(df, "xs", "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = rows.flatMap { xs =>
        for (i <- xs.indices; j <- i + 1 until xs.size) yield (xs(i), xs(j))
      }.sorted
      got == want
    }
}
