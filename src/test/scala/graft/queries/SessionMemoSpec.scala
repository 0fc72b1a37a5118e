package graft.queries

import graft.TestSession.spark
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** Pins the ADVICE-r11 atomicity fix: SessionMemo's check-evict-build
  * sequence runs under one lock, so concurrent callers can neither build
  * the same key twice (TrieMap.getOrElseUpdate may run `build` twice and
  * silently drop one value — a leaked persisted frame) nor evict a frame
  * another caller just obtained. The invariant checked here is the
  * accounting identity builds == releases + live, which a lost race
  * breaks in either direction.
  */
class SessionMemoSpec extends AnyFunSuite {

  test("concurrent alternating keys: every build is live or released exactly once") {
    val builds = new AtomicInteger(0)
    val releases = new AtomicInteger(0)
    val memo = new SessionMemo[Integer](release = _ => releases.incrementAndGet())
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        var i = 0
        while (i < 200) {
          val k = if ((i + t) % 2 == 0) "dirA" else "dirB"
          val v = memo.getOrElseUpdate(spark, k, Nil, "frame") {
            Integer.valueOf(builds.incrementAndGet())
          }
          assert(v ne null)
          i += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val live = memo.keysFor(spark).size
    assert(live == 1, s"single-key policy violated: $live live keys")
    assert(builds.get() == releases.get() + live,
      s"accounting broken: builds=${builds.get()} releases=${releases.get()} live=$live")
  }

  test("sameGroup keys coexist; a dir switch evicts the whole group") {
    // Keys of one (dir, fingerprint) group coexist under different tags.
    val releases = new AtomicInteger(0)
    val memo = new SessionMemo[String](release = _ => releases.incrementAndGet())
    def tags = memo.keysFor(spark).map(k => (k.dir, k.tag)).toSet
    memo.getOrElseUpdate(spark, "dirA", Nil, "3")("a3")
    memo.getOrElseUpdate(spark, "dirA", Nil, "5")("a5")
    assert(tags == Set(("dirA", "3"), ("dirA", "5")))
    assert(releases.get() == 0)
    memo.getOrElseUpdate(spark, "dirB", Nil, "3")("b3")
    assert(tags == Set(("dirB", "3")))
    assert(releases.get() == 2)
  }

  test("catalog.clearCache uncaches a memoized persisted frame (Bench semantics)") {
    // Pins what Bench's dropAllCaches actually does to the rank-frame memo
    // (ADVICE r15 said timed runs read the warm persisted frame; they do
    // NOT): clearCache removes the CacheManager entry, the memoized Dataset
    // reports StorageLevel.NONE, and later actions fully recompute — so
    // Bench's timed medians for the rank rows INCLUDE the range exchange.
    // The Bench-header measurement note relies on this being true.
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("v").repartition(2).persist()
    df.count()
    assert(df.storageLevel.useMemory, "persist did not register the frame")
    spark.catalog.clearCache()
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "clearCache left the memoized frame cached — Bench's warm-frame note is wrong")
    assert(df.count() == 3) // recompute path still correct
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "an action after clearCache silently re-persisted the frame")
  }
}
