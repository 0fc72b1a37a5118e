package graft.search

import org.scalatest.funsuite.AnyFunSuite

/** Runs waves serially on the caller's thread, like [[SerialClient]], but
  * reports them `k` at a time: a blocking `nextBatch` evaluates and returns
  * the `k` oldest queued waves (fewer only when fewer are queued). With
  * `capacityHint` (4, 1) the default queue holds 5 waves, as on a
  * four-core SparkClient, so `k` scripts how completions clump.
  */
final class ClumpedClient(k: Int) extends EvalClient {
  private var counter = 0L
  private val queue =
    scala.collection.mutable.Queue.empty[(Long, Objective, IndexedSeq[Array[Double]])]

  override def submit(objective: Objective, points: IndexedSeq[Array[Double]]): Long = {
    counter += 1
    queue.enqueue((counter, objective, points))
    counter
  }

  override def hasResults: Boolean = false

  override def nextBatch(block: Boolean): Seq[(Long, Array[Double])] =
    if (!block) Nil
    else Seq.fill(math.min(k, queue.size))(queue.dequeue())
      .map { case (id, obj, points) => (id, obj.applyBatch(points)) }

  override def capacityHint: Option[(Int, Int)] = Some((4, 1))
}

/** Port of the reference's convergence tests
  * (/root/reference/dask_patternsearch/tests/test_search.py) against the
  * SerialClient, plus the measured baselines from BASELINE.md.
  */
class SearchSpec extends AnyFunSuite {

  private val sphere = Objective(x => x.map(v => v * v).sum)
  private val sphereP1 = Objective(x => x.map(v => (v - 0.1) * (v - 0.1)).sum)
  private val sphereVectorized = Objective.vectorized(xs => xs.map(x => x.map(v => v * v).sum).toArray)

  private val x0 = Array(10.0, 15.0)
  private val ones = Array(1.0, 1.0)
  private val stopratio = 1e-2

  private def assertConverged(res: SearchResult, xStar: Array[Double], tol: Double): Unit = {
    res.best.point.zip(xStar).foreach { case (b, s) =>
      assert(math.abs(b - s) < tol, s"best=${res.best} not within $tol of ${xStar.mkString(",")}")
    }
    assertGlobalBest(res)
  }

  private def assertGlobalBest(res: SearchResult): Unit = {
    assert(res.evaluations.nonEmpty)
    assert(res.evaluations.forall(_.isDone), "every returned evaluation must be complete")
    val minCost = res.evaluations.map(_.cost).min
    assert(res.best.cost == minCost,
      s"global-best invariant violated: best=${res.best.cost} min=$minCost")
  }

  private def run(obj: Objective = sphere, opts: SearchOptions): SearchResult =
    Search.minimize(obj, x0, ones, new SerialClient, opts)

  test("serial sphere converges (test_search.py:113-120)") {
    for (seed <- 1L to 3L) {
      val res = run(opts = SearchOptions(stopratio = stopratio, seed = Some(seed)))
      assertConverged(res, Array(0.0, 0.0), 2 * stopratio)
    }
  }

  test("serial sphereP1 converges to off-lattice optimum (test_search.py:122-124)") {
    val res = run(sphereP1, SearchOptions(stopratio = stopratio, seed = Some(7)))
    assertConverged(res, Array(0.1, 0.1), 2 * stopratio)
  }

  test("unrandomized sphere converges deterministically") {
    val res = run(opts = SearchOptions(stopratio = stopratio, randomize = false))
    assertConverged(res, Array(0.0, 0.0), 2 * stopratio)
    val res2 = run(opts = SearchOptions(stopratio = stopratio, randomize = false))
    assert(res.evaluations.size == res2.evaluations.size)
    assert(res.best.point.sameElements(res2.best.point))
  }

  test("eval counts in measured baseline range (BASELINE.md: 2-D sphere 120-181)") {
    val counts = (1L to 5L).map { seed =>
      run(opts = SearchOptions(stopratio = stopratio, seed = Some(seed))).evaluations.size
    }
    // Baseline measured 120-181 across randomize draws; allow slack for RNG
    counts.foreach(c => assert(c >= 80 && c <= 260, s"eval count $c far outside baseline range"))
  }

  test("maxQueueSize 20 and 1 (test_search.py:42-50)") {
    for (q <- Seq(20, 1)) {
      val res = run(opts = SearchOptions(stopratio = stopratio, maxQueueSize = Some(q), seed = Some(11)))
      assertConverged(res, Array(0.0, 0.0), 2 * stopratio)
    }
  }

  test("minNewSubmit=4 (test_search.py:52-55)") {
    val res = run(opts = SearchOptions(stopratio = stopratio, minNewSubmit = 4, seed = Some(13)))
    assertConverged(res, Array(0.0, 0.0), 2 * stopratio)
  }

  test("maxTasks=10 gives exactly 10 evaluations (test_search.py:57-60)") {
    val res = run(opts = SearchOptions(stopratio = stopratio, maxTasks = Some(10), seed = Some(17)))
    assert(res.evaluations.size == 10, s"got ${res.evaluations.size}")
    assertGlobalBest(res)
  }

  test("maxTasks counts x0: a cap of n tasks submits exactly n waves") {
    for (n <- Seq(1, 2, 10)) {
      val res = run(opts = SearchOptions(stopratio = stopratio, maxTasks = Some(n), seed = Some(17)))
      assert(res.evaluations.size == n, s"maxTasks=$n: got ${res.evaluations.size}")
      assert(res.evaluations.head.point.sameElements(x0))
      assertGlobalBest(res)
    }
    for (n <- Seq(1, 2)) {
      val res = run(sphereVectorized, SearchOptions(stopratio = stopratio, batchsize = Some(5),
        maxTasks = Some(n), seed = Some(37)))
      assert(res.evaluations.size == 5 * n, s"batchsize=5 maxTasks=$n: got ${res.evaluations.size}")
      assertGlobalBest(res)
    }
  }

  test("maxStencilSize=4 (test_search.py:62-70)") {
    val res = run(opts = SearchOptions(stopratio = stopratio, maxStencilSize = 4, seed = Some(19)))
    assertConverged(res, Array(0.0, 0.0), 2 * stopratio)
    val res2 = run(opts = SearchOptions(stopratio = stopratio, maxStencilSize = 4,
      minNewSubmit = 4, seed = Some(23)))
    assertConverged(res2, Array(0.0, 0.0), 2 * stopratio)
  }

  test("batchsize=5: eval count is a multiple of 5 (test_search.py:72-76)") {
    val res = run(opts = SearchOptions(stopratio = stopratio, batchsize = Some(5), seed = Some(29)))
    assertConverged(res, Array(0.0, 0.0), 2 * stopratio)
    assert(res.evaluations.size % 5 == 0, s"got ${res.evaluations.size}")
  }

  test("batchsize=5 vectorized (test_search.py:78-82)") {
    val res = run(sphereVectorized,
      SearchOptions(stopratio = stopratio, batchsize = Some(5), seed = Some(31)))
    assertConverged(res, Array(0.0, 0.0), 2 * stopratio)
    assert(res.evaluations.size % 5 == 0)
  }

  test("batchsize=5 + maxTasks=2 gives exactly 10 evaluations (test_search.py:84-87)") {
    val res = run(sphereVectorized,
      SearchOptions(stopratio = stopratio, batchsize = Some(5), maxTasks = Some(2), seed = Some(37)))
    assert(res.evaluations.size == 10, s"got ${res.evaluations.size}")
    assertGlobalBest(res)
  }

  test("integer dimension [0] (test_search.py:97-100)") {
    val res = run(opts = SearchOptions(stopratio = stopratio,
      integerDimensions = Seq(0), seed = Some(41)))
    assertConverged(res, Array(0.0, 0.0), 2 * stopratio)
    assert(res.best.point(0) == math.rint(res.best.point(0)), "int dim must be integral")
  }

  test("mixed int/float optimum lands at [0, ~0.1] (test_search.py:102-105)") {
    val res = run(sphereP1, SearchOptions(stopratio = stopratio,
      integerDimensions = Seq(0), seed = Some(43)))
    assert(math.abs(res.best.point(0) - 0.0) < 2 * stopratio)
    assert(math.abs(res.best.point(1) - 0.1) < 2 * stopratio)
    assert(res.best.point(0) == math.rint(res.best.point(0)))
    assertGlobalBest(res)
  }

  test("both dims integer (test_search.py:107-110)") {
    val res = run(sphereP1, SearchOptions(stopratio = stopratio,
      integerDimensions = Seq(0, 1), seed = Some(47)))
    assertConverged(res, Array(0.0, 0.0), 2 * stopratio)
    assert(res.best.point.forall(v => v == math.rint(v)))
  }

  test("x0 lands on the integers of an integer dimension whose lattice step does not divide 1") {
    // x0 is snapped to the lattice and then rounded, as every trial point
    // is; rounding first left it at 10.001953125 (step 0.75) and
    // 10.00078125 (step 0.3)
    for (step <- Seq(0.75, 0.3)) {
      val res = Search.minimize(sphere, x0, Array(step, 1.0), opts = SearchOptions(
        stopratio = stopratio, integerDimensions = Seq(0), seed = Some(59)))
      val off = res.evaluations.map(_.point(0)).filter(v => v != math.rint(v))
      val x0Dim0 = res.evaluations.head.point(0)
      assert(x0Dim0 == 10.0, s"step $step: x0 at $x0Dim0")
      assert(off.isEmpty, s"step $step: ${off.size} of ${res.evaluations.size} evaluations " +
        s"off the integers on dim 0, e.g. ${off.take(3).mkString(", ")}")
    }
  }

  test("maxTime=0 degenerate: evaluates only x0 (BASELINE.md)") {
    val res = run(opts = SearchOptions(stopratio = stopratio, maxTime = Some(0.0), seed = Some(53)))
    assert(res.evaluations.size == 1, s"got ${res.evaluations.size}")
    assert(res.evaluations.head.point.sameElements(Array(10.0, 15.0)))
  }

  test("4-D and 8-D sphere converge; counts near baseline (304 / 915)") {
    for ((d, base) <- Seq((4, 304), (8, 915))) {
      val res = Search.minimize(sphere,
        Array.fill(d)(10.0), Array.fill(d)(1.0), new SerialClient,
        SearchOptions(stopratio = stopratio, seed = Some(59)))
      assertConverged(res, Array.fill(d)(0.0), 2 * stopratio)
      val n = res.evaluations.size
      assert(n > base / 2 && n < base * 2, s"d=$d eval count $n vs baseline $base")
    }
  }

  test("stopratio 1e-4 converges tighter (baseline 181 evals)") {
    val res = run(opts = SearchOptions(stopratio = 1e-4, seed = Some(61)))
    assertConverged(res, Array(0.0, 0.0), 2e-4)
  }

  test("rosenbrock 2-D decreases cost substantially (BASELINE.md: not fully convergent)") {
    val rosen = Objective { x =>
      (0 until x.length - 1).map { i =>
        100 * math.pow(x(i + 1) - x(i) * x(i), 2) + math.pow(1 - x(i), 2)
      }.sum
    }
    val res = Search.minimize(rosen, Array(-1.2, 1.0), ones, new SerialClient,
      SearchOptions(stopratio = 1e-3, seed = Some(67)))
    assertGlobalBest(res)
    assert(res.best.cost < 1.0, s"rosenbrock cost ${res.best.cost} (baseline reached 0.203)")
  }

  test("memoization: no point key is ever evaluated twice") {
    val seen = scala.collection.mutable.HashMap.empty[Vector[Double], Int]
    val counting = Objective { x =>
      seen.synchronized { seen.updateWith(x.toVector)(c => Some(c.getOrElse(0) + 1)) }
      x.map(v => v * v).sum
    }
    val res = run(counting, SearchOptions(stopratio = stopratio, seed = Some(71)))
    val dupes = seen.filter(_._2 > 1)
    assert(dupes.isEmpty, s"points evaluated more than once: ${dupes.take(5)}")
    assert(seen.size == res.evaluations.size)
  }

  test("lineage: accepted chain walks back to the root") {
    val res = run(opts = SearchOptions(stopratio = stopratio, seed = Some(73)))
    var p = res.best
    var depth = 0
    while (!(p.parent eq p) && depth < 10000) { p = p.parent; depth += 1 }
    assert(p.parent eq p, "chain must terminate at self-parenting root")
    assert(depth > 3, s"parent chain suspiciously short: $depth")
    assert(res.evaluations.count(_.isAccepted) > 3)
  }

  test("16-D sphere converges (scale-in-dimension, serial)") {
    val d = 16
    val res = Search.minimize(sphere, Array.fill(d)(5.0), Array.fill(d)(1.0),
      new SerialClient, SearchOptions(stopratio = 1e-2, seed = Some(79)))
    assertConverged(res, Array.fill(d)(0.0), 2e-2)
  }

  test("maxHalvings derivation matches frexp (BASELINE.md)") {
    assert(Search.maxHalvingsFor(0.01) == 7)
    assert(Search.maxHalvingsFor(1e-4) == 14)
    assert(Search.maxHalvingsFor(0.5) == 2)
  }

  test("completion clumping: seed 14 converges one wave at a time, not four at a time") {
    // Greedy asynchronous acceptance (search.py:299-345) depends on how
    // completions arrive together. Over seeds 1-400 of this search, 1 fails
    // to converge when waves complete one at a time and 42 when they
    // complete four at a time; seed 14 is one of the 42.
    def search(k: Int): SearchResult =
      Search.minimize(sphere, x0, ones, new ClumpedClient(k),
        SearchOptions(stopratio = stopratio, batchsize = Some(6), seed = Some(14)))
    val alone = search(1)
    assertConverged(alone, Array(0.0, 0.0), 2 * stopratio)
    assert(alone.evaluations.size % 6 == 0)
    val clumped = search(4)
    assertGlobalBest(clumped)
    assert(clumped.evaluations.size % 6 == 0)
    assert(clumped.best.point.exists(v => math.abs(v) >= 2 * stopratio),
      s"four-at-a-time completions converged: best=${clumped.best}")
  }

  test("malformed inputs are rejected, not searched") {
    for (q <- Seq(0, -3))
      intercept[IllegalArgumentException](SearchOptions(maxQueueSize = Some(q)))
    for (n <- Seq(0L, -3L))
      intercept[IllegalArgumentException](SearchOptions(maxTasks = Some(n)))
    val opts = SearchOptions(stopratio = stopratio, seed = Some(83))
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      intercept[IllegalArgumentException](
        Search.minimize(sphere, Array(bad, 15.0), ones, new SerialClient, opts))
      intercept[IllegalArgumentException](
        Search.minimize(sphere, x0, Array(bad, 1.0), new SerialClient, opts))
    }
    intercept[IllegalArgumentException](
      Search.minimize(sphere, x0, Array(0.0, 1.0), new SerialClient, opts))
    for (dims <- Seq(Seq(5), Seq(2), Seq(-1), Seq(0, 2))) {
      val e = intercept[IllegalArgumentException](Search.minimize(sphere, x0, ones, new SerialClient,
        opts.copy(integerDimensions = dims)))
      assert(e.getMessage.contains("integerDimensions"), e.getMessage)
    }
    // a negative step is a direction, not an error
    val res = Search.minimize(sphere, x0, Array(-1.0, 1.0), new SerialClient, opts)
    assertConverged(res, Array(0.0, 0.0), 2 * stopratio)
  }

  test("feasibility hook: sphere under a box constraint (search.py:281-283 TODO)") {
    // Minimize the sphere with the feasible region x(0) >= 2: the
    // unconstrained optimum (0,0) is infeasible, so the search must land on
    // the boundary x(0) = 2 (and x(1) = 0, unconstrained).
    val feasible = (x: Array[Double]) => x(0) >= 2.0
    val submitted = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val spy = Objective { x => submitted.synchronized(submitted += x.clone()); x.map(v => v * v).sum }
    for (seed <- 1L to 3L) {
      submitted.clear()
      val res = Search.minimize(spy, x0, ones, new SerialClient,
        SearchOptions(stopratio = stopratio, seed = Some(seed), feasible = Some(feasible)))
      assertGlobalBest(res)
      // Every evaluated point after x0 satisfied the predicate — infeasible
      // trials were never submitted (the reference TODO's `continue`).
      assert(submitted.tail.forall(feasible), "an infeasible point was submitted")
      assert(math.abs(res.best.point(0) - 2.0) < 2 * stopratio,
        s"constrained dim should land on the boundary, got ${res.best}")
      assert(math.abs(res.best.point(1)) < 2 * stopratio,
        s"unconstrained dim should reach 0, got ${res.best}")
    }
  }
}
