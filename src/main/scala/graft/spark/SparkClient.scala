package graft.spark

import graft.search.{EvalClient, Objective}
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

/** Spark-backed evaluation client: submitted waves (one trial point, or
  * `batchsize` points — reference search.py:185-201) are evaluated by
  * asynchronous Spark jobs; completed waves land on a completion queue the
  * driver loop drains. This preserves the reference's occupancy model (dask
  * futures continuously fed to a scheduler, clients.py:9-24) on Spark's job
  * and task model, in three layers.
  *
  * Waves. A wave is the unit of evaluation: it is one RDD element, and
  * `Objective.applyBatch` (the vectorized form) receives it whole, in one
  * call, as the reference hands one batch to one future.
  *
  * Tasks. A job's waves, in wave order, are laid contiguously over `k`
  * tasks, a rule from measured cost. Each task times its `applyBatch` calls
  * and returns the nanos with the costs. The client keeps two running
  * estimates: objective time per point, per `Objective` instance, and job
  * overhead, the least of its jobs' wall time minus the longest task's
  * objective time (a wait for a free core only adds to that sample, so the
  * least one leaves the wait out). A job of `n` points in `waves` waves then
  * runs in `k = clamp(ceil(n * perPoint / overhead), 1, waves)` tasks. A
  * microsecond objective packs a job into one task, so per-task
  * deserialization is paid once per job; an objective that costs more than
  * the overhead keeps one task per wave. Until both estimates exist for an
  * objective (cold start), every wave is its own task. The estimates are
  * dropped by `shutdown()`.
  *
  * Jobs. At most `defaultParallelism` jobs are in flight (the figure
  * `capacityHint` reports), one per `graft-spark-eval` thread. A thread
  * whose job has ended takes *every* wave queued at that moment into one
  * job. An idle thread, woken by a submit, takes its share of the queue,
  * `ceil(queued / free slots)` waves, so a burst of submits while several
  * threads are idle is spread over them, not folded into one job. So while
  * fewer waves than free slots are queued each wave is its own job, and
  * when the queue is deeper the per-job overhead is paid once per free
  * slot, not once per wave. Folding a burst would report its waves to the
  * search at once, and the greedy asynchronous acceptance converges less
  * often the more completions arrive together. Only waves holding the same
  * `Objective` instance share a job. Completion is reported per wave, in
  * submission order within a job; completion order across jobs is free,
  * as in the reference (search.py:299-345).
  *
  * A job is one `SparkContext.runJob` call whose task closure is declared
  * here, not `mapPartitions(...).collect()`. Spark cleans every closure a
  * job carries by parsing the bytecode of its declaring class, and
  * `collect` adds two declared in `RDD` and `SparkContext`; with evaluation
  * jobs this small that parsing was most of the driver's CPU. So one
  * closure is cleaned per job, and the companion object that declares it
  * is kept small.
  *
  * Teardown: every job runs under this client's own job group with
  * interrupt-on-cancel; a failed job fails every wave it carried, and
  * `shutdown()` cancels the group, then stops and joins the pool.
  */
final class SparkClient(spark: SparkSession) extends EvalClient {

  import SparkClient.{Packing, Wave}

  private val sc = spark.sparkContext
  private[spark] val jobGroup = s"graft-spark-eval-${SparkClient.clients.incrementAndGet()}"
  private val ids = new AtomicLong(0L)
  private val pendingCount = new AtomicInteger(0)
  private val jobsInFlight = new AtomicInteger(0)
  private val queued = new java.util.ArrayDeque[Wave]()
  private val packing = new Packing
  private val completed = new LinkedBlockingQueue[(Long, Try[Array[Double]])]()
  private val threads = new ConcurrentLinkedQueue[Thread]()
  private val pool = Executors.newFixedThreadPool(math.max(1, sc.defaultParallelism), { r =>
    val t = new Thread(r, "graft-spark-eval")
    t.setDaemon(true)
    threads.add(t)
    t
  })

  override def submit(objective: Objective, points: IndexedSeq[Array[Double]]): Long = {
    val id = ids.incrementAndGet()
    pendingCount.incrementAndGet()
    queued.synchronized(queued.add(Wave(id, objective, points)))
    pool.execute(() => drain())
    id
  }

  /** The oldest queued wave and later ones holding the same objective,
    * counted as one job in flight: all of them if `all`, else a free slot's
    * share, `ceil(queued / free slots)`. Nothing once the client is shut
    * down. */
  private def take(all: Boolean): Seq[Wave] = queued.synchronized {
    if (pool.isShutdown || queued.isEmpty) Nil
    else {
      val free = math.max(1, sc.defaultParallelism - jobsInFlight.get())
      val limit = if (all) Int.MaxValue else (queued.size + free - 1) / free
      val objective = queued.peekFirst().objective
      val out = mutable.ArrayBuffer.empty[Wave]
      val it = queued.iterator()
      while (it.hasNext && out.size < limit) {
        val w = it.next()
        if (w.objective eq objective) { out += w; it.remove() }
      }
      jobsInFlight.incrementAndGet()
      out.toSeq
    }
  }

  /** Runs one job per take until the queue is empty: first a free slot's
    * share, then, each time a job ends, every queued wave. Every submit
    * schedules a drain after queueing its wave, so no wave is left behind. */
  private def drain(): Unit = {
    var waves = take(all = false)
    while (waves.nonEmpty) {
      val costs =
        try Success(SparkClient.evaluate(sc, jobGroup, packing, waves))
        catch {
          case e: InterruptedException =>
            // shutdown() interrupted the wait: make sure the job it was
            // waiting on is cancelled even if it started after the cancel.
            cancelJobs()
            Failure(e)
          case NonFatal(e) => Failure(e)
        } finally jobsInFlight.decrementAndGet()
      waves.indices.foreach(i => completed.put((waves(i).id, costs.map(_(i)))))
      waves = take(all = true)
    }
  }

  override def hasResults: Boolean = !completed.isEmpty

  override def nextBatch(block: Boolean): Seq[(Long, Array[Double])] = {
    val out = mutable.ArrayBuffer.empty[(Long, Try[Array[Double]])]
    var first = completed.poll()
    if (first == null && block && pendingCount.get() > 0) {
      // Wait for the next completion; drain() posts one for every wave it
      // takes, success or failure. pendingCount moves only on this
      // caller's thread (submit and the decrements below), so it cannot
      // drop during the wait, and the wait is unbounded: a job that never
      // ends, or a wave left queued by shutdown(), blocks it.
      first = completed.take()
    } else if (first == null && !block) {
      // Tiny pause so the driver loop does not hot-spin while waiting
      Thread.sleep(1)
    }
    if (first != null) {
      out += first
      var more = completed.poll()
      while (more != null) { out += more; more = completed.poll() }
    }
    out.map {
      case (id, Success(costs)) => pendingCount.decrementAndGet(); (id, costs)
      case (_, Failure(e)) =>
        pendingCount.decrementAndGet()
        throw new RuntimeException("objective evaluation job failed", e)
    }.toSeq
  }

  override def capacityHint: Option[(Int, Int)] = Some((sc.defaultParallelism, 1))

  private def cancelJobs(): Unit = if (!sc.isStopped) sc.cancelJobGroup(jobGroup)

  override def shutdown(): Unit = {
    // Spark warns on cancelling a group with no active job, the normal case
    if (jobsInFlight.get() > 0) cancelJobs()
    pool.shutdownNow()
    if (pool.awaitTermination(SparkClient.ShutdownWaitSeconds, TimeUnit.SECONDS))
      threads.forEach(_.join())
    packing.clear()
  }
}

object SparkClient {

  private final case class Wave(id: Long, objective: Objective, points: IndexedSeq[Array[Double]])

  private val clients = new AtomicLong(0L)

  /** Bound on how long `shutdown()` waits for the pool's threads. */
  private val ShutdownWaitSeconds = 10L

  /** The running estimates behind the packing rule (see the class doc):
    * objective nanos per point, per `Objective` instance, and the client's
    * job overhead in nanos. */
  private final class Packing {
    private val pointNs = new java.util.IdentityHashMap[Objective, java.lang.Double]()
    private var overheadNs = Long.MaxValue

    /** Tasks for a job of `points` points in `waves` waves. */
    def tasks(objective: Objective, points: Int, waves: Int): Int = synchronized {
      val perPoint = pointNs.get(objective)
      if (perPoint == null || overheadNs == Long.MaxValue) waves
      else math.max(1, math.min(waves, math.ceil(perPoint * points / overheadNs).toInt))
    }

    /** Folds in one job: its points, each task's objective nanos and the
      * job's wall nanos. The per-point time moves a quarter of the way to
      * the job's. Wall time less the longest task's objective time is the
      * overhead plus any wait for a free core; the wait only adds, so the
      * overhead kept is the least such sample. */
    def record(objective: Objective, points: Int, taskNs: Array[Long], wallNs: Long): Unit =
      synchronized {
        if (points > 0)
          pointNs.merge(objective, taskNs.sum.toDouble / points, (old, sample) => old + (sample - old) / 4)
        overheadNs = math.min(overheadNs, math.max(1L, wallNs - taskNs.max))
      }

    def clear(): Unit = synchronized { pointNs.clear(); overheadNs = Long.MaxValue }
  }

  /** Evaluates waves sharing one objective in one job under `group`, in as
    * many tasks as `packing` rules; returns each wave's costs in wave order. */
  private def evaluate(
      sc: SparkContext,
      group: String,
      packing: Packing,
      waves: Seq[Wave]): Seq[Array[Double]] = {
    val objective = waves.head.objective
    val points = waves.map(_.points.length).sum
    val tasks = packing.tasks(objective, points, waves.length)
    sc.setJobGroup(group, s"graft SparkClient: ${waves.length} wave(s), $tasks task(s)",
      interruptOnCancel = true)
    // runJob with this closure only, not mapPartitions(...).collect(): see
    // the class doc. parallelize's positional split keeps each task's
    // waves contiguous and in wave order.
    val t0 = System.nanoTime()
    val results = sc.runJob(sc.parallelize(waves.map(_.points.toArray), tasks),
      (_: TaskContext, it: Iterator[Array[Array[Double]]]) => {
        var ns = 0L
        val costs = it.map { wave =>
          val t = System.nanoTime()
          val c = objective.applyBatch(ArraySeq.unsafeWrapArray(wave))
          ns += System.nanoTime() - t
          c
        }.toArray
        (costs, ns)
      })
    packing.record(objective, points, results.map(_._2), System.nanoTime() - t0)
    results.flatMap(_._1).toSeq
  }
}
