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
    val batchsize = opts.batchsize
    require(batchsize.forall(_ >= 1), "batchsize must be >= 1")

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
    def toGrid(x: Array[Double]): Array[Double] = {
      val out = new Array[Double](dims)
      var i = 0
      while (i < dims) { out(i) = math.rint(x(i) / gridsize(i)) * gridsize(i) + 0.0; i += 1 }
      out
    }

    val intDims: Array[Boolean] = {
      val m = new Array[Boolean](dims)
      opts.integerDimensions.foreach(i => m(i) = true)
      m
    }
    val hasIntDims = opts.integerDimensions.nonEmpty
    val start0 = x0.clone()
    if (hasIntDims) {
      var i = 0
      while (i < dims) { if (intDims(i)) start0(i) = math.rint(start0(i)); i += 1 }
    }

    def now(): Double = System.nanoTime() / 1e9

    val orientation = Array.fill(dims)(1.0)
    var curPoint = new TrialPoint(toGrid(start0), -1)
    curPoint.startTime = now()
    var curCost = Double.PositiveInfinity
    var isContraction = true
    var newPoint: TrialPoint = null
    var newCost = Double.NaN

    val endTime = opts.maxTime.map(now() + _)
    val currentBatch = mutable.ArrayBuffer.empty[TrialPoint]
    val running = mutable.HashMap.empty[Long, IndexedSeq[TrialPoint]]
    val processing = mutable.ArrayBuffer.empty[(TrialPoint, Double)]
    val results = mutable.LinkedHashMap.empty[ArraySeq[Double], TrialPoint]
    val contractConditions = mutable.HashSet.empty[ArraySeq[Double]]
    var nextPoint: TrialPoint = null
    var nextCost = Double.NaN

    def submitPoint(p: TrialPoint): Unit = {
      results(p.key) = p
      batchsize match {
        case None =>
          val id = client.submit(objective, IndexedSeq(p.point))
          running(id) = IndexedSeq(p)
        case Some(b) =>
          currentBatch += p
          if (currentBatch.length >= b) {
            val batch = currentBatch.toIndexedSeq
            val id = client.submit(objective, batch.map(_.point))
            running(id) = batch
            currentBatch.clear()
          }
      }
    }

    submitPoint(curPoint)
    var isFinished = false
    var curStepsize: Array[Double] = null
    var stencilIter: Iterator[StencilStep] = Iterator.empty
    var stencilIndex = 0L
    var curAdded = 0

    val loopBreaks = new Breaks

    while (!isFinished || running.nonEmpty || nextPoint != null || newPoint != null) {
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
        if (hasIntDims) {
          // Integer dims never step finer than 1 (search.py:226-229)
          var i = 0
          while (i < dims) {
            if (intDims(i) && curStepsize(i) < 0 && curStepsize(i) > -1) curStepsize(i) = -1
            else if (intDims(i) && curStepsize(i) > 0 && curStepsize(i) < 1) curStepsize(i) = 1
            i += 1
          }
        }
        curAdded = 0
        contractConditions.clear()
        var it: Iterator[StencilStep] = stencil.stencilPoints
        if (opts.randomize) it = randomizeStencil(dims, it, rng)
        stencilIter = it
        stencilIndex = 0
        if (curPoint.halvings >= maxHalvings) isFinished = true
      }

      // Fill the task queue with trial points (search.py:240-297)
      if (!isFinished) {
        loopBreaks.breakable {
          while (running.size < maxQueueSize && stencilIndex < maxStencilSize &&
            (running.size < minQueueSize || curAdded < opts.minNewSubmit ||
              (nextPoint == null && !client.hasResults))) {
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
            var halvings = step.halvings + curPoint.halvings
            val dx = new Array[Double](dims)
            var i = 0
            while (i < dims) { dx(i) = step.offset(i) * curStepsize(i); i += 1 }
            val trial: Array[Double] =
              if (hasIntDims) {
                // Integer steps round away from zero (search.py:268-276)
                i = 0
                while (i < dims) {
                  if (intDims(i)) dx(i) = Math.copySign(math.ceil(math.abs(dx(i))), dx(i))
                  i += 1
                }
                val t = toGrid(Array.tabulate(dims)(j => curPoint.point(j) + dx(j)))
                var intOnly = true
                i = 0
                while (i < dims) {
                  if (intDims(i)) t(i) = math.rint(t(i))
                  else if (dx(i) != 0) intOnly = false
                  i += 1
                }
                // An all-integer step must not shrink the stencil scale
                if (step.halvings > 0 && intOnly) halvings = curPoint.halvings
                t
              } else toGrid(Array.tabulate(dims)(j => curPoint.point(j) + dx(j)))

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
                if (opts.maxTasks.exists(results.size / batchsize.getOrElse(1) >= _)) {
                  isFinished = true
                  loopBreaks.break()
                }
              }
            }
          }
        }
      }

      if (!isContraction) {
        // Collect completed tasks; block iff the queue is full or there is
        // nothing else to do (search.py:299-324)
        if (running.nonEmpty) {
          val block = running.size >= maxQueueSize ||
            (nextPoint == null && (isFinished || stencilIndex >= maxStencilSize))
          for ((id, costs) <- client.nextBatch(block)) {
            val stopT = now()
            val points = running.remove(id).getOrElse(
              throw new IllegalStateException(s"unknown future id $id"))
            var i = 0
            while (i < points.length) {
              val p = points(i)
              // NaN ranks as worst (see Objective): `c < NaN` is always
              // false, so a NaN candidate would hide the rest of its wave.
              val c = if (costs(i).isNaN) Double.PositiveInfinity else costs(i)
              p.stopTime = stopT
              if (nextPoint == null) { nextPoint = p; nextCost = c }
              else if (c < nextCost) {
                processing += ((nextPoint, nextCost)); nextPoint = p; nextCost = c
              } else processing += ((p, c))
              i += 1
            }
          }
        }

        // Greedy commit: lowest completed cost becomes the center candidate
        // (search.py:326-358)
        if (nextPoint != null && (curAdded >= opts.minNewSubmit ||
          stencilIndex >= maxStencilSize || isFinished)) {
          nextPoint.cost = nextCost
          nextPoint.isDone = true
          contractConditions -= nextPoint.key
          if (nextCost < curCost) {
            nextPoint.isAccepted = true
            // Orient the asymmetric stencil toward expected descent
            // (search.py:336-343): sign vote from both parent deltas.
            var i = 0
            while (i < dims) {
              val diff = (nextPoint.point(i) - nextPoint.parent.point(i)) +
                (curPoint.point(i) - curPoint.parent.point(i))
              if (diff != 0) orientation(i) = Math.copySign(orientation(i), diff)
              i += 1
            }
            newPoint = nextPoint
            newCost = nextCost
          }
          for ((p, c) <- processing) {
            p.cost = c
            p.isDone = true
            contractConditions -= p.key
          }
          if (newPoint == null && contractConditions.isEmpty && stencilIndex > 2 * dims)
            isContraction = true
          nextPoint = null
          nextCost = Double.NaN
          processing.clear()
        } else if (nextPoint == null && stencilIndex >= maxStencilSize &&
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
