package graft.search

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.stencil.RightHandedSimplexStencil
import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** SHA-256 digests of randomized search trajectories and long stencil
  * prefixes, so any change to the driver loop or the stencil generator that
  * moves a single bit of a trajectory shows up.
  *
  * One `search` line per configuration group (objective × d × batchsize ×
  * integerDimensions × minNewSubmit × client) hashes 24 searches: seeds
  * 1–12, each with `maxTasks` None and 25. Each search contributes every
  * evaluation's point, cost, halvings, acceptance and parent, the best point
  * and every `trace` line. One `stencil` line per (d, maxHalvings) hashes
  * the first 4,000 steps (fewer when the stream ends first).
  *
  * The `ties` objective answers integer costs, −0.0 at the origin and NaN
  * past `x(0) > 12`, so the commit's first-lowest-cost rule, its IEEE `<`
  * (−0.0 does not beat 0.0) and its NaN-as-+Inf reading are all pinned.
  *
  * The pinned file is generated, not hand-written; regenerate it only for an
  * intended behaviour change:
  * {{{
  *   sbt "Test/runMain graft.search.TrajectoryDigests src/test/resources/trajectory_digests.txt"
  * }}}
  */
object TrajectoryDigests {

  private final class Hasher {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def double(v: Double): Unit = long(java.lang.Double.doubleToRawLongBits(v))
    def doubles(vs: Array[Double]): Unit = { long(vs.length); vs.foreach(double) }
    def string(s: String): Unit = { val b = s.getBytes(UTF_8); long(b.length); md.update(b) }
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }

  private val objectives: Seq[(String, Objective)] = Seq(
    "sphere" -> Objective(x => x.map(v => v * v).sum),
    "rosenbrock" -> Objective(x => (0 until x.length - 1).map { i =>
      100 * math.pow(x(i + 1) - x(i) * x(i), 2) + math.pow(1 - x(i), 2)
    }.sum),
    "ties" -> Objective { x =>
      if (x.forall(_ == 0)) -0.0
      else if (x(0) > 12) Double.NaN
      else math.floor(x.map(math.abs).sum)
    })

  private val clients: Seq[(String, () => EvalClient)] = Seq(
    "serial" -> (() => new SerialClient),
    "clumped1" -> (() => new ClumpedClient(1)),
    "clumped4" -> (() => new ClumpedClient(4)))

  private val x0s = Array(10.3, 15.0, -7.5, 3.25)
  private val steps = Array(1.0, 0.75, -1.0, 2.0)

  private def hashSearch(h: Hasher, obj: Objective, d: Int, client: EvalClient,
      opts: SearchOptions): Int = {
    val trace = Vector.newBuilder[String]
    val res = Search.minimize(obj, x0s.take(d), steps.take(d), client,
      opts.copy(trace = Some(line => trace += line)))
    for (p <- res.evaluations) {
      h.doubles(p.point); h.double(p.cost); h.long(p.halvings)
      h.long(if (p.isAccepted) 1 else 0)
      h.doubles(p.parent.point); h.long(p.parent.halvings)
    }
    h.doubles(res.best.point); h.double(res.best.cost); h.long(res.best.halvings)
    trace.result().foreach(h.string)
    res.evaluations.size
  }

  def searchLines: Seq[String] =
    for {
      (objName, obj) <- objectives
      d <- Seq(2, 4)
      batch <- Seq(None, Some(3), Some(6))
      ints <- Seq(Nil, Seq(0))
      minNew <- Seq(0, 3)
      (clientName, client) <- clients
    } yield {
      val h = new Hasher
      var evals = 0
      for (seed <- 1L to 12L; maxTasks <- Seq(None, Some(25L)))
        evals += hashSearch(h, obj, d, client(), SearchOptions(batchsize = batch,
          integerDimensions = ints, minNewSubmit = minNew, seed = Some(seed), maxTasks = maxTasks))
      s"search $objName d=$d batch=${batch.getOrElse("-")} int=${ints.mkString("[", ",", "]")} " +
        s"minNew=$minNew client=$clientName evals=$evals ${h.hex}"
    }

  def stencilLines: Seq[String] =
    for (d <- 1 to 6; mh <- Seq(2, 5, 7, 12)) yield {
      val h = new Hasher
      var n = 0
      for (s <- new RightHandedSimplexStencil(d, mh).stencilPoints.take(4000)) {
        h.doubles(s.offset); h.long(s.halvings); n += 1
      }
      s"stencil d=$d mh=$mh steps=$n ${h.hex}"
    }

  def main(args: Array[String]): Unit =
    Files.write(Paths.get(args(0)), (searchLines ++ stencilLines).mkString("", "\n", "\n").getBytes(UTF_8))
}

class TrajectoryDigestSpec extends AnyFunSuite {

  private lazy val pinned: Seq[String] = {
    val url = getClass.getResource("/trajectory_digests.txt")
    assert(url != null, "missing resource trajectory_digests.txt")
    val src = Source.fromURL(url)
    try src.getLines().toVector finally src.close()
  }

  private def check(kind: String, got: Seq[String]): Unit = {
    val want = pinned.filter(_.startsWith(s"$kind "))
    assert(got.size == want.size, s"$kind groups: got ${got.size}, pinned ${want.size}")
    val diffs = got.zip(want).filter { case (g, w) => g != w }
    if (diffs.nonEmpty) fail(s"${diffs.size} of ${got.size} $kind groups moved, e.g.\n" +
      diffs.take(5).map { case (g, w) => s"  got    $g\n  pinned $w" }.mkString("\n"))
  }

  test("randomized search trajectories match their pinned digests (5,184 searches)") {
    check("search", TrajectoryDigests.searchLines)
  }

  test("stencil prefixes match their pinned digests (d 1-6 x maxHalvings 2, 5, 7, 12)") {
    check("stencil", TrajectoryDigests.stencilLines)
  }
}
