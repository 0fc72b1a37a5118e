package graft.search

import graft.stencil.{RightHandedSimplexStencil, StencilStep}

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.util.Random
import scala.util.control.Breaks

/** Asynchronous derivative-free pattern-search minimizer.
  *
  * Faithful re-expression of the reference driver loop
  * (/root/reference/dask_patternsearch/search.py:48-362): trial points from a
  * shrinking/orienting stencil around the current best point are submitted
  * and collected fully asynchronously through an [[EvalClient]]; the best
  * completed result is accepted greedily, stale results remain eligible
  * (asynchrony is semantics, not just performance — search.py:299-345 never
  * filters completed evaluations by center generation).
  *
  * All state here is driver-side by design, exactly as in the reference; the
  * distributed fan-out lives behind the client (see graft.spark.SparkClient).
  */
object Search {

  /** Max halvings from the stop ratio: `frexp(1/stopratio)[1]`
    * (search.py:149). Math.getExponent gives the floor-log2; frexp's
    * mantissa lives in [0.5, 1), so its exponent is one higher.
    */
  def maxHalvingsFor(stopratio: Double): Int =
    Math.getExponent(1.0 / stopratio) + 1

  /** Shuffle the stencil order within growing chunks of size 2d, 3d, 4d, …
    * to decorrelate exploration (search.py:34-41).
    */
  private[graft] def randomizeStencil(
      dims: Int, it: Iterator[StencilStep], rng: Random): Iterator[StencilStep] =
    new Iterator[StencilStep] {
      private var chunkSize = 2 * dims
      private var buf: Iterator[StencilStep] = Iterator.empty
      private def refill(): Unit = {
        while (!buf.hasNext && it.hasNext) {
          val chunk = new mutable.ArrayBuffer[StencilStep](chunkSize)
          var i = 0
          while (i < chunkSize && it.hasNext) { chunk += it.next(); i += 1 }
          chunkSize += dims
          buf = rng.shuffle(chunk).iterator
        }
      }
      override def hasNext: Boolean = { refill(); buf.hasNext }
      override def next(): StencilStep = { refill(); buf.next() }
    }

  def minimize(
      objective: Objective,
      x0: Array[Double],
      stepsize: Array[Double],
      client: EvalClient = new SerialClient,
      opts: SearchOptions = SearchOptions()): SearchResult = {

    val dims = stepsize.length
    require(x0.length == dims, s"x0 and stepsize lengths differ: ${x0.length} vs $dims")
    // A non-finite start, or a zero or non-finite step, snaps points to a
    // NaN or infinite grid cell, which the search would return as its best.
    require(x0.forall(_.isFinite), s"x0 must be finite, got ${x0.mkString("[", ", ", "]")}")
    require(stepsize.forall(s => s.isFinite && s != 0),
      s"each stepsize must be finite and non-zero, got ${stepsize.mkString("[", ", ", "]")}")
    require(opts.integerDimensions.forall(i => i >= 0 && i < dims),
      s"integerDimensions must lie in [0, $dims), got ${opts.integerDimensions.mkString("[", ", ", "]")}")
    val batchsize = opts.batchsize
    require(batchsize.forall(_ >= 1), "batchsize must be >= 1")
    // Unbatched points go out one per wave.
    val waveSize = batchsize.getOrElse(1)

    // Queue-size defaults tied to cluster capacity (search.py:133-141).
    var maxQueueSize = opts.maxQueueSize.getOrElse {
      var m = 3 * dims
      batchsize.foreach(b => m = m / b + 1)
      client.capacityHint.foreach { case (threads, workers) =>
        m = math.max(m, threads + workers)
      }
      m
    }
    val minQueueSize = opts.minQueueSize.getOrElse(math.max(1, maxQueueSize / 2))
    var maxStencilSize = opts.maxStencilSize

    val maxHalvings = maxHalvingsFor(opts.stopratio)
    val stencil = new RightHandedSimplexStencil(dims, maxHalvings)
    val rng = new Random(opts.seed.getOrElse(new Random().nextLong()))

    // Per-dimension evaluation lattice (search.py:151, 159-160); snapping
    // makes point identity exact so memoization is sound.
    val gridsize = stepsize.map(_ / math.pow(2.0, maxHalvings))
    def snap(x: Double, i: Int): Double = math.rint(x / gridsize(i)) * gridsize(i) + 0.0
    def toGrid(x: Array[Double]): Array[Double] = Array.tabulate(dims)(i => snap(x(i), i))

    val intDims = new Array[Boolean](dims)
    opts.integerDimensions.foreach(i => intDims(i) = true)
    // Snapped, then rounded on integer dims, as every trial point is
    // (search.py:268-278); the reference rounds x0 before snapping
    // (search.py:153-157, 162-166), which leaves it off the integers when
    // the lattice step does not divide 1.
    def onLattice(x: Double, i: Int): Double = if (intDims(i)) math.rint(snap(x, i)) else snap(x, i)

    def now(): Double = System.nanoTime() / 1e9

    val orientation = Array.fill(dims)(1.0)
    var curPoint = new TrialPoint(Array.tabulate(dims)(i => onLattice(x0(i), i)), -1)
    curPoint.startTime = now()
    var curCost = Double.PositiveInfinity
    var isContraction = true
    var newPoint: TrialPoint = null
    var newCost = Double.NaN

    val endTime = opts.maxTime.map(now() + _)
    val currentBatch = mutable.ArrayBuffer.empty[TrialPoint]
    val running = mutable.HashMap.empty[Long, IndexedSeq[TrialPoint]]
    // Collected (point, cost) pairs not yet committed, in arrival order.
    val completed = mutable.ArrayBuffer.empty[(TrialPoint, Double)]
    val results = mutable.LinkedHashMap.empty[ArraySeq[Double], TrialPoint]
    val contractConditions = mutable.HashSet.empty[ArraySeq[Double]]
    var isFinished = false

    // Every point, x0 included, joins the current wave and counts toward
    // maxTasks, which caps submitted waves.
    def submitPoint(p: TrialPoint): Unit = {
      results(p.key) = p
      currentBatch += p
      if (currentBatch.length >= waveSize) {
        val batch = currentBatch.toIndexedSeq
        running(client.submit(objective, batch.map(_.point))) = batch
        currentBatch.clear()
      }
      if (opts.maxTasks.exists(results.size / waveSize >= _)) isFinished = true
    }

    submitPoint(curPoint)
    var curStepsize: Array[Double] = null
    var stencilIter: Iterator[StencilStep] = Iterator.empty
    var stencilIndex = 0L
    var curAdded = 0

    val loopBreaks = new Breaks

    while (!isFinished || running.nonEmpty || completed.nonEmpty || newPoint != null) {
      if (endTime.exists(now() > _)) isFinished = true

      // (Re)center on acceptance or contraction (search.py:209-238)
      if (newPoint != null || isContraction) {
        opts.trace.foreach(_(
          s"recenter kind=${if (isContraction) "contract" else "accept"} " +
            s"cost=$curCost newCost=$newCost halvings=${curPoint.halvings} " +
            s"stencilIndex=$stencilIndex curAdded=$curAdded " +
            s"running=${running.size} contractConds=${contractConditions.size} " +
            s"results=${results.size}"))
        if (isContraction) {
          isContraction = false
          if (curPoint.stopTime.isNaN) curPoint.stopTime = now()
          val p = new TrialPoint(curPoint.point, curPoint.halvings + 1)
          p.parent = curPoint
          p.isAccepted = true
          p.cost = curCost
          p.startTime = now()
          newPoint = p
          newCost = curCost
        }
        curPoint = newPoint
        curCost = newCost
        newPoint = null
        newCost = Double.NaN
        curStepsize = toGrid(Array.tabulate(dims)(i =>
          orientation(i) * stepsize(i) / math.pow(2.0, curPoint.halvings)))
        // Integer dims never step finer than 1 (search.py:226-229)
        for (i <- 0 until dims if intDims(i) && math.abs(curStepsize(i)) < 1)
          curStepsize(i) = math.signum(curStepsize(i))
        curAdded = 0
        contractConditions.clear()
        var it: Iterator[StencilStep] = stencil.stencilPoints
        if (opts.randomize) it = randomizeStencil(dims, it, rng)
        stencilIter = it
        stencilIndex = 0
        if (curPoint.halvings >= maxHalvings) isFinished = true
      }

      // Fill the task queue with trial points (search.py:240-297)
      loopBreaks.breakable {
        while (!isFinished && running.size < maxQueueSize && stencilIndex < maxStencilSize &&
          (running.size < minQueueSize || curAdded < opts.minNewSubmit ||
            (completed.isEmpty && !client.hasResults))) {
          if (!stencilIter.hasNext) {
            // Stencil exhausted (search.py:253-257) — freeze its size
            if (stencilIndex < 2 * dims)
              throw new IllegalStateException("stencil exhausted before 2*dims points")
            maxStencilSize = stencilIndex
            loopBreaks.break()
          }
          val step = stencilIter.next()
          stencilIndex += 1
          if (curAdded >= opts.minNewSubmit && stencilIndex > 2 * dims &&
            contractConditions.isEmpty) {
            // All 2d axial probes evaluated, no improvement: contract
            // (search.py:259-265)
            isContraction = true
            loopBreaks.break()
          }
          // Integer steps round away from zero and land on integers; an
          // all-integer step must not shrink the stencil scale
          // (search.py:268-276).
          var halvings = step.halvings + curPoint.halvings
          var intOnly = true
          val trial = new Array[Double](dims)
          var i = 0
          while (i < dims) {
            var dx = step.offset(i) * curStepsize(i)
            if (intDims(i)) dx = Math.copySign(math.ceil(math.abs(dx)), dx)
            else if (dx != 0) intOnly = false
            trial(i) = onLattice(curPoint.point(i) + dx, i)
            i += 1
          }
          if (step.halvings > 0 && intOnly) halvings = curPoint.halvings

          // Feasibility hook (search.py:281-283's commented-out TODO):
          // an infeasible trial is skipped before it can become a
          // contract condition or a submission.
          if (halvings <= maxHalvings && opts.feasible.forall(_(trial))) {
            val key = ArraySeq.unsafeWrapArray(trial)
            val existing = results.get(key)
            val pending = existing.isEmpty || !existing.get.isDone
            if (stencilIndex <= 2 * dims && pending) contractConditions += key
            if (existing.isEmpty) {
              val tp = new TrialPoint(trial, halvings)
              tp.parent = curPoint
              tp.startTime = now()
              submitPoint(tp)
              curAdded += 1
            }
          }
        }
      }

      if (!isContraction) {
        // Collect completed tasks; block iff the queue is full or there is
        // nothing else to do (search.py:299-324)
        if (running.nonEmpty) {
          val block = running.size >= maxQueueSize ||
            (completed.isEmpty && (isFinished || stencilIndex >= maxStencilSize))
          for ((id, costs) <- client.nextBatch(block)) {
            val stopT = now()
            val points = running.remove(id).getOrElse(
              throw new IllegalStateException(s"unknown future id $id"))
            for (i <- points.indices) {
              points(i).stopTime = stopT
              // NaN ranks as worst (see Objective): `c < NaN` is always
              // false, so a NaN candidate would hide the rest of its wave.
              completed += ((points(i), if (costs(i).isNaN) Double.PositiveInfinity else costs(i)))
            }
          }
        }

        // Greedy commit: the first lowest completed cost becomes the center
        // candidate (search.py:326-358). IEEE `<`, not a total ordering: a
        // later -0.0 does not displace an earlier 0.0.
        if (completed.nonEmpty && (curAdded >= opts.minNewSubmit ||
          stencilIndex >= maxStencilSize || isFinished)) {
          var (best, bestCost) = completed.head
          for ((p, c) <- completed) {
            p.cost = c
            p.isDone = true
            contractConditions -= p.key
            if (c < bestCost) { best = p; bestCost = c }
          }
          completed.clear()
          if (bestCost < curCost) {
            best.isAccepted = true
            // Orient the asymmetric stencil toward expected descent
            // (search.py:336-343): sign vote from both parent deltas.
            var i = 0
            while (i < dims) {
              val diff = (best.point(i) - best.parent.point(i)) +
                (curPoint.point(i) - curPoint.parent.point(i))
              if (diff != 0) orientation(i) = Math.copySign(orientation(i), diff)
              i += 1
            }
            newPoint = best
            newCost = bestCost
          }
          if (newPoint == null && contractConditions.isEmpty && stencilIndex > 2 * dims)
            isContraction = true
        } else if (completed.isEmpty && stencilIndex >= maxStencilSize &&
          running.isEmpty && !isFinished) {
          // Nothing running, nothing to process, nothing to submit: contract
          isContraction = true
        }
      }
    }

    // Drop the never-submitted partial batch (search.py:360-361)
    currentBatch.foreach(p => results.remove(p.key))
    SearchResult(curPoint, results.values.toVector)
  }
}
