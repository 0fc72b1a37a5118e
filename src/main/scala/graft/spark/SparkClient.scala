package graft.spark

import graft.search.{EvalClient, Objective}
import org.apache.spark.{GraftRpc, SparkContext, TaskContext}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Spark-backed evaluation client: submitted waves (one trial point, or
  * `batchsize` points — reference search.py:185-201) are evaluated by
  * long-lived Spark tasks that pull them from the driver; completed waves
  * land on a completion queue the driver loop drains. This keeps the
  * reference's occupancy model (dask workers kept alive and fed futures,
  * clients.py:9-24) without a Spark job per wave.
  *
  * Waves. A wave is the unit of evaluation: `Objective.applyBatch` (the
  * vectorized form) receives it whole, in one call, as the reference hands
  * one batch to one future.
  *
  * Evaluators. Each client registers one driver endpoint ([[GraftRpc]]).
  * An evaluator is one Spark job whose tasks each loop: pull a wave from
  * the endpoint, run `applyBatch` on it, push its costs back; the push
  * carries the next pull. Messages hold Scala and JDK types only; the
  * `Objective` travels in the task closure, so an evaluator serves one
  * `Objective` instance and waves holding different instances never share
  * a job. Completion order is free, as in the reference
  * (search.py:299-345).
  *
  * Slots. Tasks hold at most `defaultParallelism` slots (the figure
  * `capacityHint` reports), and only while the client has an undelivered
  * wave. A queued wave goes to a waiting task of its objective; failing
  * that, an evaluator of `min(queued waves, free slots)` tasks starts.
  * While one is starting up, later waves of its objective wait for its
  * first pull, or for the caller to block in `nextBatch`, before a top-up
  * starts, so a burst of submits is served by one top-up, not one job per
  * wave. A waiting pull is answered "stop" once every submitted wave has
  * been delivered by `nextBatch`, so another Spark job run between two
  * waves (a streaming sink write, say) finds its slots free; a waiting
  * task is also stopped when another objective's wave has no slot. A
  * search that keeps waves pending keeps its tasks.
  *
  * An evaluator is one `SparkContext.runJob` call whose task closure is
  * declared here, not `mapPartitions(...).collect()`. Spark cleans every
  * closure a job carries by parsing the bytecode of its declaring class,
  * so one closure is cleaned per job, and the companion object that
  * declares it is kept small. Each job is run on its own
  * `graft-spark-eval` thread, which ends with the job.
  *
  * Failure and teardown: every job runs under this client's own job group
  * with interrupt-on-cancel. A failed job fails every wave it had taken
  * and not reported, and the queued waves of its objective; a retried
  * task attempt re-runs its partition's wave.
  * `shutdown()` answers every waiting pull with "stop", returns once every
  * evaluator job has ended, so their task-end accumulators have been
  * merged, and unregisters the endpoint. It cancels the job group only
  * when a wave is still being evaluated (a hung or abandoned objective) or
  * a job outlives a 10 s wait, and then waits at most 10 s more.
  */
final class SparkClient(spark: SparkSession) extends EvalClient {

  import SparkClient.{Evaluator, Reply, Stop, Wave}

  private val sc = spark.sparkContext
  private[spark] val jobGroup = s"graft-spark-eval-${SparkClient.clients.incrementAndGet()}"
  private val completed = new LinkedBlockingQueue[(Long, Try[Array[Double]])]()

  // Guarded by this client's lock, taken by the caller's thread, the
  // endpoint and the evaluator threads.
  private var ids = 0L
  private var evaluatorIds = 0L
  /** Submitted waves not yet delivered by `nextBatch`. */
  private var pending = 0
  private var closed = false
  private val queued = new java.util.ArrayDeque[Wave]()
  private val evaluators = mutable.LinkedHashMap.empty[Long, Evaluator]

  private val unregister = GraftRpc.serve(sc, jobGroup) {
    case ((job: Long, part: Int, wave: Long, costs: Array[Double]), reply) => pull(job, part, wave, costs, reply)
    case (other, _) => throw new IllegalArgumentException(s"unexpected message $other")
  }

  override def submit(objective: Objective, points: IndexedSeq[Array[Double]]): Long = synchronized {
    if (closed) throw new IllegalStateException("SparkClient is shut down")
    ids += 1
    pending += 1
    queued.add(Wave(ids, objective, points.toArray))
    dispatch()
    ids
  }

  /** A task of evaluator `job`, partition `part`, pushes the costs of
    * `wave` (none on its first pull) and waits for its next wave. */
  private def pull(job: Long, part: Int, wave: Long, costs: Array[Double], reply: Reply): Unit =
    synchronized {
      evaluators.get(job) match {
        case None => reply(Stop) // the job has ended: a killed task's last pull
        case Some(ev) =>
          ev.unstarted -= part
          ev.taken.get(part) match {
            case Some(w) if w.id == wave =>
              ev.taken -= part
              completed.put((w.id, Success(costs)))
              ev.park(part, reply)
            // a retried attempt re-runs the wave its failed attempt held
            case Some(w) => reply((w.id, w.points))
            case None => ev.park(part, reply)
          }
          dispatch()
      }
    }

  /** Hands queued waves to waiting tasks of their objective, stops waiting
    * tasks nothing will feed and starts evaluators for the waves left: at
    * once if no evaluator of their objective is starting up, else only
    * when the caller is `waiting` for a completion. */
  private def dispatch(waiting: Boolean = false): Unit = {
    val it = queued.iterator()
    while (it.hasNext) {
      val w = it.next()
      evaluators.valuesIterator.find(ev => (ev.objective eq w.objective) && ev.parked.nonEmpty)
        .foreach { ev =>
          val (part, reply) = ev.parked.head
          ev.parked -= part
          ev.taken(part) = w
          reply((w.id, w.points))
          it.remove()
        }
    }
    val slots = sc.defaultParallelism
    def live = evaluators.valuesIterator.map(_.live).sum
    if (closed || pending == 0 || (!queued.isEmpty && live >= slots))
      evaluators.valuesIterator.foreach(_.stopParked())
    if (!closed) {
      val byObjective = new java.util.IdentityHashMap[Objective, Integer]()
      queued.forEach(w => byObjective.merge(w.objective, 1, (a, b) => a + b))
      byObjective.forEach { (objective, waves) =>
        val starting = evaluators.valuesIterator.filter(ev => (ev.objective eq objective) && ev.unstarted.nonEmpty).toSeq
        val tasks = math.min(waves - starting.map(_.unstarted.size).sum, slots - live)
        if (tasks > 0 && (starting.isEmpty || waiting)) start(objective, tasks)
      }
    }
  }

  private def start(objective: Objective, tasks: Int): Unit = {
    evaluatorIds += 1
    val ev = new Evaluator(evaluatorIds, objective, tasks)
    evaluators(ev.id) = ev
    val endpoint = jobGroup
    val t = new Thread(() => {
      val result = Try {
        sc.setJobGroup(jobGroup, s"graft SparkClient evaluator: $tasks task(s)", interruptOnCancel = true)
        SparkClient.evaluate(sc, endpoint, ev.id, objective, tasks)
      }
      ended(ev, result)
    }, "graft-spark-eval")
    t.setDaemon(true)
    ev.thread = t
    t.start()
  }

  /** A finished evaluator fails the waves it took and did not report. A
    * failed one also fails the queued waves of its objective: a job whose
    * tasks fail before their first pull (an objective that does not
    * deserialize, say) took none, and its waves would be queued forever. */
  private def ended(ev: Evaluator, result: Try[Unit]): Unit = synchronized {
    evaluators -= ev.id
    val cause = result.failed.getOrElse(new IllegalStateException("an evaluator ended holding waves"))
    ev.taken.valuesIterator.foreach(w => completed.put((w.id, Failure(cause))))
    ev.taken.clear()
    if (result.isFailure) queued.removeIf { w =>
      (w.objective eq ev.objective) && { completed.put((w.id, Failure(cause))); true }
    }
    ev.stopParked()
    dispatch()
  }

  override def hasResults: Boolean = !completed.isEmpty

  override def nextBatch(block: Boolean): Seq[(Long, Array[Double])] = {
    val out = mutable.ArrayBuffer.empty[(Long, Try[Array[Double]])]
    var first = completed.poll()
    val wait = first == null && block && synchronized {
      dispatch(waiting = true)
      pending > 0
    }
    if (wait) {
      // Wait for the next completion: every wave taken by a task completes,
      // success or failure. pending drops only on this caller's thread, so
      // it cannot reach 0 during the wait, and the wait is unbounded: a wave
      // never taken, such as one left queued by shutdown(), blocks it.
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
    synchronized {
      pending -= out.size
      if (pending == 0) dispatch()
    }
    out.map {
      case (id, Success(costs)) => (id, costs)
      case (_, Failure(e)) => throw new RuntimeException("objective evaluation job failed", e)
    }.toSeq
  }

  override def capacityHint: Option[(Int, Int)] = Some((sc.defaultParallelism, 1))

  private def cancelJobs(): Unit = if (!sc.isStopped) sc.cancelJobGroup(jobGroup)

  override def shutdown(): Unit = {
    val (threads, evaluating) = synchronized {
      closed = true
      queued.clear()
      dispatch()
      (evaluators.valuesIterator.map(_.thread).toSeq, evaluators.valuesIterator.exists(_.taken.nonEmpty))
    }
    if (evaluating) cancelJobs()
    if (!SparkClient.joinAll(threads)) {
      cancelJobs()
      SparkClient.joinAll(threads)
    }
    unregister()
  }
}

object SparkClient {

  private final case class Wave(id: Long, objective: Objective, points: Array[Array[Double]])

  private type Reply = Any => Unit

  /** The answer to a pull that ends its task. */
  private val Stop = (-1L, Array.empty[Array[Double]])

  /** One evaluator job and its tasks, by partition: not yet pulled, waiting
    * for a wave, evaluating one. */
  private final class Evaluator(val id: Long, val objective: Objective, tasks: Int) {
    var thread: Thread = _
    val unstarted = mutable.BitSet(0 until tasks: _*)
    val parked = mutable.LinkedHashMap.empty[Int, Reply]
    val taken = mutable.HashMap.empty[Int, Wave]
    private var stopped = 0
    /** Tasks holding or about to hold a slot. */
    def live: Int = tasks - stopped
    /** Parks `reply` for `part`. Another attempt of the partition already
      * waiting (a speculative copy, or a zombie racing its retry) is told
      * to stop, or it would wait for its reply until Spark kills it. */
    def park(part: Int, reply: Reply): Unit = {
      parked.remove(part).foreach(_(Stop))
      parked(part) = reply
    }
    def stopParked(): Unit = {
      parked.valuesIterator.foreach(_(Stop))
      stopped += parked.size
      parked.clear()
    }
  }

  private val clients = new AtomicLong(0L)

  /** Bound on how long `shutdown()` waits for the evaluator jobs to end
    * before cancelling them, and again for the cancelled jobs to end. */
  private val ShutdownWaitMs = 10000L

  /** Joins `threads` against one deadline `ShutdownWaitMs` away; whether
    * every one has ended. */
  private def joinAll(threads: Seq[Thread]): Boolean = {
    val deadline = System.nanoTime() + ShutdownWaitMs * 1000000L
    threads.foreach(t => t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
    !threads.exists(_.isAlive)
  }

  /** Runs evaluator `job` in `tasks` tasks, each pulling waves of
    * `objective` from the driver endpoint `endpoint` until told to stop. */
  private def evaluate(sc: SparkContext, endpoint: String, job: Long, objective: Objective, tasks: Int): Unit =
    sc.runJob(sc.parallelize(0 until tasks, tasks), (ctx: TaskContext, _: Iterator[Int]) => {
      val driver = new GraftRpc.Driver(endpoint)
      val part = ctx.partitionId()
      var next = driver.ask[(Long, Array[Array[Double]])]((job, part, -1L, Array.emptyDoubleArray))
      while (next._1 >= 0) {
        val costs = objective.applyBatch(ArraySeq.unsafeWrapArray(next._2))
        next = driver.ask[(Long, Array[Array[Double]])]((job, part, next._1, costs))
      }
    })
}
