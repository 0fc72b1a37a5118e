package graft.spark

import graft.search.{Objective, Search, SearchOptions}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.{SparkContext, TaskContext, GraftListenerBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, Semaphore, TimeUnit}
import scala.jdk.CollectionConverters._

/** What a SparkClient may leave behind after `shutdown()`: active Spark jobs
  * and live pool threads.
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

/** Encodes a point (wave j, index i) as `tag * 1e6 + 1000 j + i`, records
  * its tag against the stage evaluating it and, when `hold`, blocks until
  * the gate opens.
  */
final class Tagged(tag: Int, hold: Boolean) extends Objective {
  def code(x: Array[Double]): Double = tag * 1e6 + 1000 * x(0) + x(1)
  def apply(x: Array[Double]): Double = {
    JobGate.tagsByStage
      .computeIfAbsent(TaskContext.get().stageId(), _ => new ConcurrentLinkedQueue[Int]())
      .add(tag)
    if (hold) { JobGate.entered.release(); JobGate.release.await() }
    code(x)
  }
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

/** Dispatch and teardown of [[SparkClient]]: queued waves coalesce into one
  * job per free slot without changing what each wave computes, and a failed
  * search leaves no Spark job or pool thread behind.
  */
class SparkClientSpec extends AnyFunSuite with Eventually {

  implicit override val patienceConfig: PatienceConfig = PatienceConfig(timeout = Span(10, Seconds))

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Jobs started under one client's job group. */
  private final class GroupJobs(group: String) extends SparkListener {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
        starts.add(e)
  }

  private def wave(j: Int, n: Int): IndexedSeq[Array[Double]] =
    (0 until n).map(i => Array(j.toDouble, i.toDouble))

  /** Fills every slot with a held one-point wave, queues `queuedWaves`
    * behind them, opens the gate and returns every wave's costs plus the
    * client's job starts.
    */
  private def coalesce(queuedWaves: Seq[(Tagged, IndexedSeq[Array[Double]])])
      : (Map[Long, Array[Double]], Map[Long, (Tagged, IndexedSeq[Array[Double]])],
        Seq[SparkListenerJobStart]) = {
    spark.sparkContext.setLogLevel("WARN")
    JobGate.reset()
    val slots = spark.sparkContext.defaultParallelism
    val client = new SparkClient(spark, evalPartitions = 3)
    val jobs = new GroupJobs(client.jobGroup)
    spark.sparkContext.addSparkListener(jobs)
    val holder = new Tagged(0, hold = true)
    try {
      val held = (1 to slots).map { j =>
        val id = client.submit(holder, wave(100 + j, 1))
        JobGate.entered.acquire() // its job holds a slot before the next
        id -> ((holder, wave(100 + j, 1)))
      }
      val queued = queuedWaves.map(w => client.submit(w._1, w._2) -> w)
      JobGate.release.countDown()
      val waves = (held ++ queued).toMap
      val costs = Iterator.continually(client.nextBatch(block = true))
        .flatten.take(waves.size).toMap
      GraftListenerBus.drain(spark.sparkContext)
      (costs, waves, jobs.starts.asScala.toSeq)
    } finally {
      JobGate.release.countDown()
      spark.sparkContext.removeSparkListener(jobs)
      client.shutdown()
    }
  }

  private def assertAligned(
      costs: Map[Long, Array[Double]],
      waves: Map[Long, (Tagged, IndexedSeq[Array[Double]])]): Unit =
    waves.foreach { case (id, (objective, points)) =>
      assert(costs(id).toSeq == points.map(objective.code), s"wave $id costs do not match its points")
    }

  test("queued waves coalesce into one job per free slot, each wave sliced as alone") {
    val tagged = new Tagged(1, hold = false)
    val sizes = Seq(1, 5, 2, 7, 3)
    val queued = sizes.zipWithIndex.map { case (n, j) => tagged -> wave(j, n) }
    val (costs, waves, starts) = coalesce(queued)
    val slots = spark.sparkContext.defaultParallelism
    val jobs = starts.size
    assert(jobs == slots + 1, s"expected ${slots + 1} jobs, got $jobs")
    // the coalesced job keeps each wave's min(evalPartitions, |wave|) slices
    assert(starts.map(_.stageInfos.map(_.numTasks).sum).max == sizes.map(math.min(3, _)).sum)
    assertAligned(costs, waves)
  }

  test("waves holding different Objective instances never share a job") {
    val a = new Tagged(1, hold = false)
    val b = new Tagged(2, hold = false)
    val queued = Seq(a, b, a, b, b, a).zipWithIndex
      .map { case (o, j) => o -> wave(j, 1 + j % 3) }
    val (costs, waves, starts) = coalesce(queued)
    val slots = spark.sparkContext.defaultParallelism
    val jobs = starts.size
    assert(jobs == slots + 2, s"expected ${slots + 2} jobs, got $jobs")
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
    // (the session may be local[2] when another suite built it) keeps a
    // core for x0 whichever job Spark schedules first.
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
    // cost = 100 * size of the batch the point arrived in + its index
    val batchSizes = Objective.vectorized(xs => xs.map(x => 100.0 * xs.length + x(1)).toArray)
    val client = new SparkClient(spark, evalPartitions = 3)
    try {
      val id = client.submit(batchSizes, wave(0, 7))
      val costs = Iterator.continually(client.nextBatch(block = true)).flatten.next()
      // ParallelCollectionRDD's positional split of 7 points into 3 slices
      assert(costs._1 == id)
      assert(costs._2.toSeq == Seq(200, 201, 202, 203, 304, 305, 306).map(_.toDouble))
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
}
