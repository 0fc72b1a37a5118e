package graft.search

import scala.collection.immutable.ArraySeq

/** Objective function surface (reference search.py:65-68, 115-122).
  *
  * `apply` is the scalar form; `applyBatch` is the hook for vectorized
  * objectives (the reference's `vectorize=True`): override it when a whole
  * batch can be evaluated at once. The default loops.
  *
  * A NaN cost ranks as worst: the driver reads it as +Inf when it collects
  * the wave, so the point is recorded with cost +Inf, is never accepted and
  * never hides a better point of the same wave. An objective answering NaN
  * drives exactly the search the same objective answering +Inf drives.
  */
trait Objective extends Serializable {
  def apply(x: Array[Double]): Double
  def applyBatch(xs: IndexedSeq[Array[Double]]): Array[Double] = {
    val out = new Array[Double](xs.length)
    var i = 0
    while (i < xs.length) { out(i) = apply(xs(i)); i += 1 }
    out
  }
}

object Objective {
  def apply(f: Array[Double] => Double): Objective = new Objective {
    def apply(x: Array[Double]): Double = f(x)
  }
  /** Build from a batch-only function (the reference's vectorized form). */
  def vectorized(f: IndexedSeq[Array[Double]] => Array[Double]): Objective =
    new Objective {
      def apply(x: Array[Double]): Double = f(IndexedSeq(x))(0)
      override def applyBatch(xs: IndexedSeq[Array[Double]]): Array[Double] = f(xs)
    }
}

/** An evaluated or in-flight trial point with provenance (reference Point,
  * search.py:15-31). Identity is exact equality of the grid-snapped
  * coordinates (search.py:24-28); `key` is the hashable form. Mutable fields
  * mirror the reference's in-place updates during the driver loop.
  */
final class TrialPoint(val point: Array[Double], val halvings: Int) {
  val key: ArraySeq[Double] = ArraySeq.unsafeWrapArray(point)
  var parent: TrialPoint = this
  var isAccepted: Boolean = false
  var startTime: Double = Double.NaN
  var stopTime: Double = Double.NaN
  var cost: Double = Double.NaN
  /** 3-state lifecycle: submitted-in-flight until `isDone` (reference keys
    * this off dict values None vs float, search.py:285). */
  var isDone: Boolean = false

  override def toString: String =
    s"TrialPoint([${point.mkString(", ")}], halvings=$halvings, cost=$cost)"
}

/** Execution backend for objective evaluations (reference clients.py).
  *
  * A "future" is an opaque Long id. `submit` hands over a batch of points
  * (size 1 unless batching); completed batches come back from `nextBatch`
  * in completion order, costs aligned with the submitted points.
  */
trait EvalClient {
  def submit(objective: Objective, points: IndexedSeq[Array[Double]]): Long
  /** Whether completed results are waiting (reference clients.py:20-21). */
  def hasResults: Boolean
  /** Completed (id, costs) pairs. When `block`, wait for at least one
    * (reference clients.py:23-24, 48-53). Must be non-blocking otherwise. */
  def nextBatch(block: Boolean): Seq[(Long, Array[Double])]
  /** Capacity hint used to default maxQueueSize: (totalThreads, numWorkers)
    * — reference search.py:137-139 uses sum(ncores) + len(ncores). */
  def capacityHint: Option[(Int, Int)] = None
  def shutdown(): Unit = ()
}

/** Runs evaluations serially on the caller's thread: `submit` queues a
  * thunk, blocking `nextBatch` pops and executes exactly one. This fills the
  * queue to maxQueueSize before anything runs, deliberately exercising the
  * asynchronous code path deterministically (reference clients.py:27-54).
  */
final class SerialClient extends EvalClient {
  private var counter = 0L
  private val queue =
    scala.collection.mutable.Queue.empty[(Long, Objective, IndexedSeq[Array[Double]])]

  override def submit(objective: Objective, points: IndexedSeq[Array[Double]]): Long = {
    counter += 1
    queue.enqueue((counter, objective, points))
    counter
  }

  override def hasResults: Boolean = false

  override def nextBatch(block: Boolean): Seq[(Long, Array[Double])] = {
    if (!block || queue.isEmpty) return Nil
    val (id, obj, points) = queue.dequeue()
    Seq((id, obj.applyBatch(points)))
  }
}

/** All search knobs, defaults matching the reference (search.py:48-51).
  * `seed` has no reference analog (the reference uses NumPy's global RNG);
  * fixing it makes runs reproducible.
  */
final case class SearchOptions(
    maxQueueSize: Option[Int] = None,
    minQueueSize: Option[Int] = None,
    minNewSubmit: Int = 0,
    randomize: Boolean = true,
    maxStencilSize: Long = Long.MaxValue,
    stopratio: Double = 0.01,
    maxTasks: Option[Long] = None,
    maxTime: Option[Double] = None,
    integerDimensions: Seq[Int] = Nil,
    batchsize: Option[Int] = None,
    seed: Option[Long] = None,
    /** Feasibility predicate over grid-snapped trial points — the boundary
      * -constraint hook the reference declares as future work
      * (search.py:281-283, `check_feasible`): an infeasible trial point is
      * skipped entirely (never submitted, never a contract condition),
      * exactly where the reference's commented-out `continue` sits. The
      * start point x0 is submitted unchecked, matching the reference shape
      * (the TODO guards only stencil trial points).
      */
    feasible: Option[Array[Double] => Boolean] = None,
    /** Observability hook: receives one line per recenter/termination event. */
    trace: Option[String => Unit] = None) {
  require(stopratio > 0 && stopratio < 1, s"stopratio must be in (0,1), got $stopratio")
  require(maxQueueSize.forall(_ >= 1), s"maxQueueSize must be >= 1, got ${maxQueueSize.get}")
  require(maxTasks.forall(_ >= 1), s"maxTasks must be >= 1, got ${maxTasks.get}")
}

/** Result of a search: the best point plus every evaluation in insertion
  * order (the reference returns `(best_point, results_dict)`,
  * search.py:124-130, 360-362).
  */
final case class SearchResult(best: TrialPoint, evaluations: Vector[TrialPoint]) {
  def bestCost: Double = best.cost
}
