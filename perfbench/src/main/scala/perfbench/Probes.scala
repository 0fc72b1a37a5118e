package perfbench

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Minimal JSON writer for the raw record the JVM hands to `run.py`. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }
}

/** Spark scheduler counters for one traced unit (a search or a row
  * execution). Registered only in traced units, so untraced units pay no
  * listener cost.
  */
final class TaskProbe extends SparkListener {
  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var deserMs = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleRead = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private val stageRun = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      deserMs += m.executorDeserializeTime
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageRun.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Counters since registration; the caller drains the bus first. */
  def snapshot(): Map[String, Any] = synchronized {
    // Skew per stage: slowest task over the median task (1.0 = even).
    val skews = stageRun.values.toSeq.map { ts =>
      val s = ts.sorted
      val med = s(s.length / 2).toDouble
      if (med > 0) s.last / med else 1.0
    }
    Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_deser_ms" -> deserMs, "task_run_ms" -> runMs,
      "task_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
      "shuffle_read_b" -> shuffleRead, "shuffle_write_b" -> shuffleWrite,
      "spill_b" -> spill, "stage_skews" -> skews)
  }
}

/** Micro-batch counts and durations of streaming queries run by a row. */
final class StreamProbe extends StreamingQueryListener {
  private var batches = 0L
  private var batchMs = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    batches += 1
    batchMs += e.progress.batchDuration
  }
  def snapshot(): Map[String, Any] = synchronized {
    Map("stream_batches" -> batches, "stream_batch_ms" -> batchMs)
  }
}

/** Scoped registration of both probes around one traced unit. */
object Trace {
  def around[A](spark: SparkSession, traced: Boolean)(body: => A): (A, Map[String, Any]) =
    if (!traced) (body, Map.empty)
    else {
      val sc = spark.sparkContext
      ListenerBusDrain(sc)
      val tasks = new TaskProbe
      val streams = new StreamProbe
      sc.addSparkListener(tasks)
      spark.streams.addListener(streams)
      try {
        val out = body
        ListenerBusDrain(sc)
        (out, tasks.snapshot() ++ streams.snapshot())
      } finally {
        sc.removeSparkListener(tasks)
        spark.streams.removeListener(streams)
      }
    }
}
