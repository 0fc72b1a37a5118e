package graft.spark

import graft.TestSession.spark
import graft.search.{Objective, Search, SearchOptions}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.{Endpoints, GraftListenerBus, SparkContext, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, Semaphore, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** What a SparkClient may leave behind after `shutdown()`: active Spark jobs
  * and live evaluator threads.
  */
object Leftovers {
  def activeJobs(sc: SparkContext): Seq[Int] = {
    GraftListenerBus.drain(sc)
    sc.statusTracker.getActiveJobIds().toSeq
  }
  def evalThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName == "graft-spark-eval" && t.isAlive)
}

/** JVM-global gate for holding Spark jobs open, plus a record of which
  * objective tags ran in which stage. Like [[ConcurrencyGauge]], it is a
  * top-level object so that serialized task closures reach the driver's
  * instance in local mode.
  */
object JobGate {
  @volatile var release = new CountDownLatch(1)
  val entered = new Semaphore(0)
  val tagsByStage = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Int]]()
  def reset(): Unit = {
    release = new CountDownLatch(1)
    entered.drainPermits()
    tagsByStage.clear()
  }
}

/** An objective whose costs for a wave, evaluated in one `applyBatch`
  * call, are known on the driver. */
trait Known extends Objective {
  def expected(wave: IndexedSeq[Array[Double]]): Seq[Double]
}

/** Encodes a point (wave j, index i) as `tag * 1e6 + 1000 j + i`, records
  * its tag against the stage evaluating it and, when `hold`, blocks until
  * the gate opens. A positive `sleepMs` makes each point take that long,
  * counted in [[ConcurrencyGauge]].
  */
final class Tagged(tag: Int, hold: Boolean, sleepMs: Long = 0) extends Known {
  def code(x: Array[Double]): Double = tag * 1e6 + 1000 * x(0) + x(1)
  def expected(wave: IndexedSeq[Array[Double]]): Seq[Double] = wave.map(code)
  def apply(x: Array[Double]): Double = {
    JobGate.tagsByStage
      .computeIfAbsent(TaskContext.get().stageId(), _ => new ConcurrentLinkedQueue[Int]())
      .add(tag)
    if (hold) { JobGate.entered.release(); JobGate.release.await() }
    if (sleepMs > 0) {
      ConcurrencyGauge.enter()
      try Thread.sleep(sleepMs) finally ConcurrencyGauge.exit()
    }
    code(x)
  }
}

/** Costs a point 100 times the size of the batch it arrived in, plus its
  * index: a wave reaching `applyBatch` whole in one call costs
  * `100 |wave| + i`. */
final class BatchSizes extends Known {
  def apply(x: Array[Double]): Double = applyBatch(IndexedSeq(x))(0)
  override def applyBatch(xs: IndexedSeq[Array[Double]]): Array[Double] =
    xs.map(x => 100.0 * xs.length + x(1)).toArray
  def expected(wave: IndexedSeq[Array[Double]]): Seq[Double] = applyBatch(wave).toSeq
}

/** Collects the lines (DEBUG and up) one logger writes on `graft-spark-eval`
  * threads while `body` runs; the logger's config is removed afterwards.
  */
object EvalThreadLog {
  private final class Lines extends AbstractAppender(
      "graft-eval-thread-log", null, null, false, Property.EMPTY_ARRAY) {
    val lines = new ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit =
      if (e.getThreadName == "graft-spark-eval") lines.add(e.getMessage.getFormattedMessage)
  }

  def capture[A](logger: String)(body: => A): (A, Seq[String]) = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new Lines
    appender.start()
    val config = new LoggerConfig(logger, Level.DEBUG, false)
    config.addAppender(appender, Level.DEBUG, null)
    ctx.getConfiguration.addLogger(logger, config)
    ctx.updateLoggers()
    try {
      val a = body
      (a, appender.lines.asScala.toSeq)
    } finally {
      ctx.getConfiguration.removeLogger(logger)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}

/** Dispatch and teardown of [[SparkClient]]: waves reach `applyBatch` whole
  * through long-lived evaluator tasks, a search holds its task slots only
  * while waves are pending, and a failed search leaves no Spark job, eval
  * thread or driver endpoint behind.
  */
class SparkClientSpec extends AnyFunSuite with Eventually {

  implicit override val patienceConfig: PatienceConfig = PatienceConfig(timeout = Span(10, Seconds))

  /** Jobs started under one client's job group. */
  private final class GroupJobs(group: String) extends SparkListener {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
        starts.add(e)
  }

  private def wave(j: Int, n: Int): IndexedSeq[Array[Double]] =
    (0 until n).map(i => Array(j.toDouble, i.toDouble))

  /** Submits `waves` at once and returns every wave's costs, by id. */
  private def all(client: SparkClient, waves: Seq[(Known, IndexedSeq[Array[Double]])])
      : (Map[Long, Array[Double]], Map[Long, (Known, IndexedSeq[Array[Double]])]) = {
    val byId = waves.map(w => client.submit(w._1, w._2) -> w).toMap
    (Iterator.continually(client.nextBatch(block = true)).flatten.take(byId.size).toMap, byId)
  }

  /** Fills every slot with a held one-point wave, queues `queuedWaves`
    * behind them, opens the gate and returns every queued and held wave's
    * costs.
    */
  private def behindHeld(queuedWaves: Seq[(Known, IndexedSeq[Array[Double]])])
      : (Map[Long, Array[Double]], Map[Long, (Known, IndexedSeq[Array[Double]])]) = {
    spark.sparkContext.setLogLevel("WARN")
    JobGate.reset()
    val slots = spark.sparkContext.defaultParallelism
    val client = new SparkClient(spark)
    val holder = new Tagged(0, hold = true)
    try {
      val held = (1 to slots).map { j =>
        val id = client.submit(holder, wave(100 + j, 1))
        JobGate.entered.acquire() // a task holds it before the next
        id -> ((holder, wave(100 + j, 1)))
      }
      val queued = queuedWaves.map(w => client.submit(w._1, w._2) -> w)
      JobGate.release.countDown()
      val waves = (held ++ queued).toMap
      val costs = Iterator.continually(client.nextBatch(block = true))
        .flatten.take(waves.size).toMap
      (costs, waves)
    } finally {
      JobGate.release.countDown()
      client.shutdown()
    }
  }

  private def assertAligned(
      costs: Map[Long, Array[Double]],
      waves: Map[Long, (Known, IndexedSeq[Array[Double]])]): Unit =
    waves.foreach { case (id, (objective, points)) =>
      assert(costs(id).toSeq == objective.expected(points), s"wave $id costs do not match its points")
    }

  test("four one-point waves of a 100 ms objective overlap") {
    val costly = new Tagged(5, hold = false, sleepMs = 100)
    ConcurrencyGauge.reset()
    val client = new SparkClient(spark)
    try {
      val (costs, waves) = all(client, (0 until 4).map(j => costly -> wave(j, 1)))
      assert(ConcurrencyGauge.maxSeen.get() >= 2,
        s"no overlap: max in-flight evaluations = ${ConcurrencyGauge.maxSeen.get()}")
      assertAligned(costs, waves)
    } finally client.shutdown()
  }

  test("waves holding different Objective instances never share a job") {
    // Queued behind waves of a third objective that hold every slot, so a
    // waiting task gives its slot up to another objective's waves.
    val a = new Tagged(1, hold = false)
    val b = new Tagged(2, hold = false)
    val queued = Seq(a, b, a, b, b, a).zipWithIndex
      .map { case (o, j) => o -> wave(j, 1 + j % 3) }
    val (costs, waves) = behindHeld(queued)
    JobGate.tagsByStage.asScala.foreach { case (stage, tags) =>
      assert(tags.asScala.toSet.size == 1, s"stage $stage evaluated objectives ${tags.asScala.toSet}")
    }
    assertAligned(costs, waves)
  }

  test("a throwing objective fails minimize; shutdown leaves no job or eval thread") {
    spark.sparkContext.setLogLevel("ERROR")
    JobGate.reset()
    val x0 = Array(10.0, 15.0)
    // x0 throws once a sibling wave is running; every other point hangs
    // until its task is interrupted. At most one wave in flight per core
    // (the test session's 4) keeps a core for x0 whichever job Spark
    // schedules first.
    val faulty = Objective { x =>
      if (x.sameElements(x0)) {
        val sibling = JobGate.entered.tryAcquire(10, TimeUnit.SECONDS)
        throw new IllegalStateException(s"injected fault, sibling running: $sibling")
      } else { JobGate.entered.release(); Thread.sleep(60000); 1.0 }
    }
    val client = new SparkClient(spark)
    val t0 = System.nanoTime()
    val e = try intercept[RuntimeException] {
      Search.minimize(faulty, x0, Array(1.0, 1.0), client,
        SearchOptions(stopratio = 1e-2, maxQueueSize = Some(spark.sparkContext.defaultParallelism),
          seed = Some(1)))
    } finally client.shutdown()
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected fault, sibling running: true")),
      s"unexpected failure $e")
    assert(Leftovers.evalThreads.isEmpty, "a graft-spark-eval thread outlived shutdown()")
    eventually {
      assert(Leftovers.activeJobs(spark.sparkContext).isEmpty, "a Spark job outlived shutdown()")
    }
    assert((System.nanoTime() - t0) / 1e9 < 30, "the hung waves were waited out, not cancelled")
    spark.sparkContext.setLogLevel("WARN")
  }

  test("each wave slice reaches applyBatch whole, in wave order") {
    // A wave is one slice: alone, a 7-point wave is one call.
    val sizes = new BatchSizes
    val client = new SparkClient(spark)
    try {
      val id = client.submit(sizes, wave(0, 7))
      val costs = Iterator.continually(client.nextBatch(block = true)).flatten.next()
      assert(costs._1 == id)
      assert(costs._2.toSeq == (700 to 706).map(_.toDouble))
      // Submitted together, five waves of different sizes are pulled by
      // the same tasks, and each still arrives whole, in its own call.
      val (burst, waves) = all(client, Seq(1, 5, 2, 7, 3).zipWithIndex.map { case (n, j) => sizes -> wave(j, n) })
      assertAligned(burst, waves)
    } finally client.shutdown()
  }

  test("an evaluation job has Spark clean one closure: graft's own") {
    val tagged = new Tagged(3, hold = false)
    val client = new SparkClient(spark)
    def run(j: Int): Array[Double] = {
      client.submit(tagged, wave(j, 2))
      Iterator.continually(client.nextBatch(block = true)).flatten.next()._2
    }
    try {
      run(0) // warm
      val (costs, lines) = EvalThreadLog.capture("org.apache.spark.util.ClosureCleaner")(run(1))
      assert(costs.toSeq == wave(1, 2).map(tagged.code))
      val cleaned = lines.filter(_.startsWith("Cleaning indylambda closure"))
      assert(cleaned.size == 1, s"closures cleaned for one evaluation job: ${cleaned.mkString("; ")}")
    } finally client.shutdown()
  }

  test("one SparkClient search runs at most defaultParallelism evaluator jobs") {
    // A 10 ms objective keeps waves pending from the first submit to the
    // last delivery, so the tasks started for the first waves serve the
    // whole search.
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val costly = Objective { x => Thread.sleep(10); x.map(v => v * v).sum }
    val client = new SparkClient(spark)
    val jobs = new GroupJobs(client.jobGroup)
    sc.addSparkListener(jobs)
    try {
      val res = Search.minimize(costly, Array(10.0, 15.0), Array(1.0, 1.0), client,
        SearchOptions(stopratio = 1e-2, maxTasks = Some(48), seed = Some(3)))
      assert(res.evaluations.size == 48)
      GraftListenerBus.drain(sc)
      assert(jobs.starts.size <= sc.defaultParallelism,
        s"${jobs.starts.size} evaluator jobs for one search on ${sc.defaultParallelism} slots")
    } finally {
      sc.removeSparkListener(jobs)
      client.shutdown()
    }
  }

  test("between two waves of a live client, with nothing pending, another Spark job runs") {
    // Four waves at once fill every slot with evaluator tasks; once all are
    // delivered, the tasks must give their slots up.
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val tagged = new Tagged(6, hold = false)
    val client = new SparkClient(spark)
    try {
      val (costs, waves) = all(client, (0 until sc.defaultParallelism).map(j => tagged -> wave(j, 2)))
      assertAligned(costs, waves)
      val other = Future(spark.range(0, 1000, 1, 2 * sc.defaultParallelism).count())(ExecutionContext.global)
      val n = try Await.result(other, 60.seconds) catch {
        case e: java.util.concurrent.TimeoutException => sc.cancelAllJobs(); throw e
      }
      assert(n == 1000)
      val (next, nextWaves) = all(client, Seq(tagged -> wave(9, 3)))
      assertAligned(next, nextWaves)
    } finally client.shutdown()
  }

  test("a second attempt pulling for a waiting task's partition stops that task") {
    // A speculative copy or a retry racing a zombie attempt pulls for a
    // partition whose task is already waiting. Asked here from the driver,
    // as the second attempt of evaluator 2's partition 0.
    spark.sparkContext.setLogLevel("WARN")
    JobGate.reset()
    val sc = spark.sparkContext
    val client = new SparkClient(spark)
    try {
      client.submit(new Tagged(8, hold = true), wave(0, 1)) // evaluator 1, keeps a wave pending
      JobGate.entered.acquire()
      val quick = new Tagged(9, hold = false)
      val id = client.submit(quick, wave(1, 1)) // evaluator 2
      assert(Iterator.continually(client.nextBatch(block = true)).flatten.next()._1 == id)
      val second = Endpoints.ask(sc, client.jobGroup, (2L, 0, -1L, Array.emptyDoubleArray))
      // The first attempt is told to stop, so evaluator 2's job ends, and
      // with it the second attempt's wait.
      val reply = Await.result(second, 30.seconds)
      assert(reply.asInstanceOf[(Long, Array[Array[Double]])]._1 == -1L)
      JobGate.release.countDown()
      assert(Iterator.continually(client.nextBatch(block = true)).flatten.next()._2.toSeq == Seq(8e6))
    } finally {
      JobGate.release.countDown()
      client.shutdown()
    }
    assert(Leftovers.activeJobs(sc).isEmpty, "an evaluator job outlived shutdown()")
  }

  test("after shutdown, no job is active and the endpoint is unregistered") {
    val sc = spark.sparkContext
    val tagged = new Tagged(7, hold = false)
    val client = new SparkClient(spark)
    val (costs, waves) = try {
      assert(Endpoints.registered(sc, client.jobGroup))
      all(client, (0 until 6).map(j => tagged -> wave(j, 1 + j % 2)))
    } finally client.shutdown()
    assertAligned(costs, waves)
    assert(Leftovers.activeJobs(sc).isEmpty, "an evaluator job outlived shutdown()")
    assert(Leftovers.evalThreads.isEmpty, "a graft-spark-eval thread outlived shutdown()")
    assert(!Endpoints.registered(sc, client.jobGroup), "the endpoint outlived shutdown()")
  }
}
