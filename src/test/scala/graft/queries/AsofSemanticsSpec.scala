package graft.queries

import graft.TempDirs.withTempDir
import graft.TestSession.spark
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** Pins the as-of carry's STRICT-less and NULL-coherence semantics on a
  * crafted dataset (code-review r12): the generated testdata happens to
  * contain zero (user, ts) ties and zero NULL values, so the gate alone
  * cannot distinguish the hardened RANGE-frame struct carry from the
  * original ROWS-frame parallel carries — this spec CAN, with the exact
  * rows where they diverge:
  *   - a purchase TIED with the click's timestamp must NOT match
  *     (`b.ts < a.ts` is strict);
  *   - a latest purchase with a NULL value must yield prev_id = that
  *     purchase and prev_cents = NULL — never an older purchase's cents
  *     (the parallel-ignoreNulls bug mixes fields from two purchases);
  *   - the tolerance variant additionally NULLs a match older than 1 h.
  */
class AsofSemanticsSpec extends AnyFunSuite {

  private val HourUs = 3600000000L

  // (event_id, us, user_id, event_type, value)
  private val rows: Seq[(Long, Long, Long, String, java.lang.Double)] = Seq(
    // user 1: purchase tied with the click instant -> strict-less excludes it
    (10L, 1000L, 1L, "purchase", 10.0),
    (11L, 1000L, 1L, "click", 1.0),
    // user 2: clean match, but the purchase's value is NULL -> prev_cents NULL
    (20L, 2000L, 2L, "purchase", null),
    (21L, 3000L, 2L, "click", 1.0),
    // user 3: older valued purchase, then a NEWER NULL-valued one; the carry
    // must take id 31 with NULL cents, never id 30's 500 cents
    (30L, 1000L, 3L, "purchase", 5.0),
    (31L, 5000L, 3L, "purchase", null),
    (32L, 6000L, 3L, "click", 1.0),
    // user 4: match exists but is older than the 1h tolerance
    (40L, 1000L, 4L, "purchase", 2.0),
    (41L, 1000L + HourUs + 1L, 4L, "click", 1.0))

  /** Runs `q` over `rows` written as the events table of a fresh dir. */
  private def fixtureResult(q: String): Map[Long, (Option[Long], Option[Long])] =
    withTempDir("graft-asof-sem") { d =>
      import spark.implicits._
      rows.toDF("event_id", "us", "user_id", "event_type", "value")
        .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id",
          "event_type", "value")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      resultMap(q, d)
    }

  private def resultMap(q: String, inDir: String): Map[Long, (Option[Long], Option[Long])] =
    graft.SparkEntry.queries(q)(spark, inDir).collect().map { r =>
      val id = r.getLong(0)
      val prevId = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val third = if (r.isNullAt(2)) None
        else Some(r.get(2) match {
          case l: java.lang.Long => l.longValue()
          case d: java.lang.Double => math.round(d * 100).toLong
        })
      id -> (prevId, third)
    }.toMap

  test("q_asof_tolerance: strict ties, NULL-value coherence, stale cutoff") {
    spark.sparkContext.setLogLevel("ERROR")
    val m = fixtureResult("q_asof_tolerance")
    assert(m(11L) == (None, None), "tied purchase must not match (strict <)")
    assert(m(21L) == (Some(20L), None), "matched NULL-value purchase keeps NULL cents")
    assert(m(32L) == (Some(31L), None),
      "latest NULL-valued purchase must not borrow the older purchase's cents")
    assert(m(41L) == (None, None), "match older than tolerance must be NULLed")
  }

  test("q_asof_join: same strict/NULL carry, no tolerance cutoff") {
    spark.sparkContext.setLogLevel("ERROR")
    val m = fixtureResult("q_asof_join")
    assert(m(11L) == (None, None))
    assert(m(21L) == (Some(20L), None))
    assert(m(32L) == (Some(31L), None))
    assert(m(41L) == (Some(40L), Some(200L)), "asofJoin has no tolerance cutoff")
  }

  test("two purchases at an identical tus carry DETERMINISTICALLY (highest id)") {
    // ADVICE r12 #3: `last(...)` under the RANGE frame picked between
    // tied purchases by partition-file order. The struct-max carry must
    // pick the highest event_id, every run, regardless of file layout.
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    withTempDir("graft-asof-tie") { d =>
      // two single-row files in OPPOSITE id order so file order cannot fake
      // determinism, plus the click after the tie
      Seq((51L, 1000L, 5L, "purchase", 7.0))
        .toDF("event_id", "us", "user_id", "event_type", "value")
        .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id", "event_type", "value")
        .write.parquet(s"$d/events.parquet")
      Seq((50L, 1000L, 5L, "purchase", 3.0), (52L, 2000L, 5L, "click", 1.0))
        .toDF("event_id", "us", "user_id", "event_type", "value")
        .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id", "event_type", "value")
        .write.mode("append").parquet(s"$d/events.parquet")
      (1 to 3).foreach { _ =>
        val m = resultMap("q_asof_join", d)
        assert(m(52L) == (Some(51L), Some(700L)),
          "tie must break by highest event_id (51), deterministically")
      }
    }
  }

  test("generated testdata keeps the tie-free precondition the ASOF oracle needs") {
    // The DuckDB ASOF oracle is ambiguous on a (user, purchase, tus) tie,
    // so the gate's determinism rests on the generator never producing
    // one — pin that precondition like the min(tus)>=0 canary.
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions.{col, count, lit}
    // all three SFs — the gate runs at sf0.01/sf0.1 where ties are MORE
    // likely (denser per-user timelines), not only at the toy scale
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dup = Events.readEvents(spark, s"/root/testdata/$sf")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("tus")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).count()
      assert(dup == 0L,
        s"$dup duplicate (user, purchase, tus) pairs at $sf — the ASOF oracle is now ambiguous")
    }
  }
}
