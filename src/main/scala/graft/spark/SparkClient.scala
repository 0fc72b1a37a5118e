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
  * driver loop drains.
  *
  * This preserves the reference's occupancy model (dask futures continuously
  * fed to a scheduler, clients.py:9-24) on Spark's job/wave execution model,
  * with one coalescing rule: at most `defaultParallelism` jobs are in flight
  * (the figure `capacityHint` reports), one per `graft-spark-eval` thread,
  * and a thread that comes free takes *every* wave queued at that moment
  * into one job. So while fewer waves than slots are queued each wave is its
  * own job, and when the queue is deeper the per-job overhead is paid once
  * per free slot, not once per wave. Only waves holding the same `Objective`
  * instance share a job. Completion is reported per wave, in submission
  * order within a job; completion order across jobs is free, as in the
  * reference (search.py:299-345).
  *
  * Inside a job each wave keeps its own fan-out: it is cut into
  * `min(evalPartitions, |wave|)` positional slices (ParallelCollectionRDD's
  * split), one partition per slice, and `Objective.applyBatch` (the
  * vectorized form) receives exactly one slice — the same slices the wave
  * would get in a job of its own. Waves are small (1..batchsize points), so
  * the default of one slice per wave amortizes task overhead while
  * concurrent jobs fill the cluster.
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
final class SparkClient(
    spark: SparkSession,
    evalPartitions: Int = 1) extends EvalClient {

  import SparkClient.Wave

  private val sc = spark.sparkContext
  private[spark] val jobGroup = s"graft-spark-eval-${SparkClient.clients.incrementAndGet()}"
  private val ids = new AtomicLong(0L)
  private val pendingCount = new AtomicInteger(0)
  private val jobsInFlight = new AtomicInteger(0)
  private val queued = new java.util.ArrayDeque[Wave]()
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

  /** The oldest queued wave and every later one holding the same objective;
    * nothing once the client is shut down. */
  private def take(): Seq[Wave] = queued.synchronized {
    if (pool.isShutdown || queued.isEmpty) Nil
    else {
      val objective = queued.peekFirst().objective
      val out = mutable.ArrayBuffer.empty[Wave]
      val it = queued.iterator()
      while (it.hasNext) {
        val w = it.next()
        if (w.objective eq objective) { out += w; it.remove() }
      }
      out.toSeq
    }
  }

  /** Runs one job per take until the queue is empty. Every submit schedules
    * a drain after queueing its wave, so no wave is left behind. */
  private def drain(): Unit = {
    var waves = take()
    while (waves.nonEmpty) {
      jobsInFlight.incrementAndGet()
      val costs =
        try Success(SparkClient.evaluate(sc, jobGroup, evalPartitions, waves))
        catch {
          case e: InterruptedException =>
            // shutdown() interrupted the wait: make sure the job it was
            // waiting on is cancelled even if it started after the cancel.
            cancelJobs()
            Failure(e)
          case NonFatal(e) => Failure(e)
        } finally jobsInFlight.decrementAndGet()
      waves.indices.foreach(i => completed.put((waves(i).id, costs.map(_(i)))))
      waves = take()
    }
  }

  override def hasResults: Boolean = !completed.isEmpty

  override def nextBatch(block: Boolean): Seq[(Long, Array[Double])] = {
    val out = mutable.ArrayBuffer.empty[(Long, Try[Array[Double]])]
    var first = completed.poll()
    if (first == null && block && pendingCount.get() > 0) {
      // Block for the next completion; bounded poll so a dead job cannot
      // wedge the driver loop forever.
      while (first == null && pendingCount.get() > 0)
        first = completed.poll(100, TimeUnit.MILLISECONDS)
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
  }
}

object SparkClient {

  private final case class Wave(id: Long, objective: Objective, points: IndexedSeq[Array[Double]])

  private val clients = new AtomicLong(0L)

  /** Bound on how long `shutdown()` waits for the pool's threads. */
  private val ShutdownWaitSeconds = 10L

  /** `ParallelCollectionRDD`'s positional split of `n` elements into `k`
    * slices: slice i holds [i*n/k, (i+1)*n/k). */
  private def slices(points: IndexedSeq[Array[Double]], k: Int): Seq[Array[Array[Double]]] = {
    val n = points.length
    (0 until k).map(i => points.slice(i * n / k, (i + 1) * n / k).toArray)
  }

  /** Evaluates waves sharing one objective in one job under `group`, one
    * partition per slice; returns each wave's costs in wave order. */
  private def evaluate(
      sc: SparkContext,
      group: String,
      evalPartitions: Int,
      waves: Seq[Wave]): Seq[Array[Double]] = {
    val objective = waves.head.objective
    val perWave = waves.map(w => slices(w.points, math.max(1, math.min(evalPartitions, w.points.length))))
    val flat = perWave.flatten
    sc.setJobGroup(group, s"graft SparkClient: ${waves.length} wave(s), ${flat.length} slice(s)",
      interruptOnCancel = true)
    // runJob with this closure only, not mapPartitions(...).collect(): see
    // the class doc. Each partition holds one slice.
    val costs = sc.runJob(sc.parallelize(flat, flat.length),
      (_: TaskContext, it: Iterator[Array[Array[Double]]]) =>
        it.flatMap(slice => objective.applyBatch(ArraySeq.unsafeWrapArray(slice))).toArray)
    var k = 0
    perWave.map { s =>
      val c = costs.slice(k, k + s.length).flatten
      k += s.length
      c
    }
  }
}
