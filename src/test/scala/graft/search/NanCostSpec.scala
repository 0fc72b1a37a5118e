package graft.search

import org.scalatest.funsuite.AnyFunSuite

/** Cost semantics for undefined objectives: a NaN cost ranks as worst, so an
  * objective that answers NaN on some points drives exactly the search that
  * the same objective answering +Inf there drives. Without that rule a NaN
  * that completes first in a wave becomes the wave's candidate and hides
  * every better point behind it (`c < NaN` is always false).
  */
class NanCostSpec extends AnyFunSuite {

  /** The sphere, undefined on about a quarter of the lattice, chosen by a
    * hash of the grid-snapped point so the holes sit all around the path.
    */
  private def holed(hole: Double): Objective = Objective { x =>
    if ((scala.util.hashing.MurmurHash3.arrayHash(x) & 3) == 0) hole else x.map(v => v * v).sum
  }

  private def trajectory(hole: Double, batchsize: Option[Int], seed: Long) =
    Search.minimize(holed(hole), Array(10.0, 15.0), Array(1.0, 1.0), new SerialClient,
      SearchOptions(stopratio = 1e-2, batchsize = batchsize, seed = Some(seed)))
      .evaluations.map(p => (p.point.toSeq, p.cost, p.halvings, p.isAccepted, p.parent.point.toSeq))

  test("NaN and +Inf costs give identical trajectories: batchsize {None, 2, 4} x seeds 1-6") {
    // costs are compared too, so a NaN must also be recorded as +Inf
    val runs = for {
      batchsize <- Seq(None, Some(2), Some(4))
      seed <- 1L to 6L
    } yield (batchsize, seed) ->
      ((trajectory(Double.NaN, batchsize, seed), trajectory(Double.PositiveInfinity, batchsize, seed)))
    assert(runs.forall { case (_, (_, inf)) => inf.exists(_._2.isInfinite) },
      "a search never hit a hole")
    val diverged = runs.collect { case (run, (nan, inf)) if nan != inf => run }
    assert(diverged.isEmpty, s"NaN and +Inf trajectories differ for (batchsize, seed) $diverged")
  }
}
