package graft.tools

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.util.LongAccumulator

import graft.Bench
import graft.Bench.{d3, jsonString}
import graft.queries.IdPack
import graft.search.{EvalClient, Objective, Search, SearchOptions, SerialClient}
import graft.spark.SparkClient

/** The one profiling main: per-run wall times AND what each run posted to
  * Spark's listener bus, measured under graft.Bench's own session and run
  * protocol ([[Bench.benchSession]], [[Bench.execute]]), so its numbers are
  * comparable with the bench pins they adjudicate.
  *
  *   Profile <q1,q2,...> <runs> <sfDir> [<sfDir> ...]
  *     Per (query, sfDir): one untimed warm-up, then <runs> executions,
  *     caches dropped after each, under SPARK_GRAFT_CPUS cores (default 4).
  *     Around every execution the listener bus is drained, the collector
  *     reset, the row run, and the bus drained again — so no event of the
  *     warm-up or of a previous run leaks into a run's record. Prints one
  *     JSON line per (query, sfDir): the ok runs' `times` with min, median
  *     and max, /proc/loadavg before and after, the core count, and per run
  *     its wall seconds, ok flag, jobs, stages, tasks, Σ task run and CPU
  *     ms, GC ms, memory and disk spill, peak execution memory, shuffle
  *     read and write bytes, streaming micro-batches with each `durationMs`
  *     key summed over them, and a stage table (id, tasks, task run ms,
  *     stage wall ms, name).
  *
  *   Profile --search <runs>
  *     The search table, the guard for objective-dominated searches: one
  *     seeded `minimize` per cell and run over d ∈ {2, 8, 32} × batchsize
  *     ∈ {1, 6, 64} × objective ∈ {µs, 10 ms per point} × {SerialClient,
  *     SparkClient}. A 10 ms cell stops after about 128 points (`maxTasks`
  *     waves); a µs cell runs to convergence. Prints a Markdown table: per
  *     cell the evaluations of one run, evals/s (median and range over the
  *     runs), the mean number of waves in flight at each submit, and the
  *     objective share, time inside `applyBatch` over wall time (up to the
  *     core count on SparkClient). The last line is the table's wall time.
  *
  *   Profile --gen <srcSfDir> <outDir> <K>
  *     Writes a deterministic ×K scale-up of the three tables the
  *     amplifying rows read (lineitem, orders, documents) as K DISJOINT
  *     key-shifted copies — copy i shifts every join/graph key by
  *     i·KeyStride and suffixes every document token with "_i", so
  *     graphs/corpora are disjoint across copies (no cross-copy
  *     near-duplicates or hub vertices: honest weak scaling, |E| and the
  *     triangle count scale ×K, LSH buckets stay copy-local). NOT test data:
  *     no oracle runs on it — profiling one input at two core counts is all
  *     a scaling ratio needs.
  *
  * Usage (sfDirs as listed in TESTDATA.md):
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.Profile \
  *     q_triangles,q_session_window_stream 5 <sf0.01 dir> <sf0.1 dir>"
  */
object Profile {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("--gen", src, out, k) => gen(src, out, k.toInt)
    case Seq("--search", runs) =>
      val spark = Bench.benchSession(Bench.envCpus)
      try searchTable(spark, runs.toInt)(println)
      finally spark.stop()
    case Seq(qs, runs, dirs @ _*) if dirs.nonEmpty && qs != "--gen" =>
      val spark = Bench.benchSession(Bench.envCpus)
      try profile(spark, qs.split(',').toSeq.map(q => q -> Bench.row(q)), runs.toInt, dirs)(println)
      finally spark.stop()
    case _ => sys.error(
      "usage: Profile <q1,q2,...> <runs> <sfDir> [<sfDir> ...] | Profile --search <runs> | " +
        "Profile --gen <srcSfDir> <outDir> <K>")
  }

  /** Profiles every (sfDir, row) pair and hands each JSON line to `emit`.
    * The collector is attached to `spark` only for the duration of the call.
    */
  private[graft] def profile(
      spark: SparkSession,
      rows: Seq[(String, (SparkSession, String) => DataFrame)],
      runs: Int,
      dirs: Seq[String])(emit: String => Unit): Unit = {
    val collector = new Collector(spark.sparkContext)
    spark.sparkContext.addSparkListener(collector)
    spark.streams.addListener(collector.streams)
    try for (dir <- dirs; (q, fn) <- rows) {
      val loadBefore = Bench.loadavg()
      Bench.execute(spark, dir, fn) // warm-up, untimed
      val recs = (1 to runs).map { i =>
        val (e, events) = collector.around(Bench.execute(spark, dir, fn))
        e.failure.foreach(t => System.err.println(s"[profile] $q run $i failed: $t"))
        (e, s"""{"wall_s":${d3(e.wallS)},"ok":${e.ok},$events}""")
      }
      val loadAfter = Bench.loadavg()
      val times = recs.collect { case (e, _) if e.ok => e.wallS }
      val (lo, med, hi) =
        if (times.isEmpty) (-1.0, -1.0, -1.0) else (times.min, Bench.median(times), times.max)
      emit(s"""{"query":${jsonString(q)},"sf":${jsonString(dir)},"cpus":${spark.sparkContext.defaultParallelism},""" +
        s""""n":$runs,"times":${times.map(d3).mkString("[", ",", "]")},""" +
        s""""min":${d3(lo)},"median":${d3(med)},"max":${d3(hi)},""" +
        s""""loadavg_before":${jsonString(loadBefore)},"loadavg_after":${jsonString(loadAfter)},""" +
        s""""runs":${recs.map(_._2).mkString("[", ",", "]")}}""")
    } finally {
      spark.streams.removeListener(collector.streams)
      spark.sparkContext.removeSparkListener(collector)
    }
  }

  private final class StageRow(var tasks: Int = 0, var runMs: Long = 0L,
      var wallMs: Long = -1L, var name: String = "")

  /** Everything one execution posted to the listener bus. */
  private final class Events {
    var jobs, batches = 0
    val stages = mutable.TreeMap.empty[Int, StageRow]
    var cpuNs, gcMs, spillMem, spillDisk, peakMem, shuffleRead, shuffleWrite = 0L
    val durationMs = mutable.TreeMap.empty[String, Long]

    def json: String = {
      val table = stages.map { case (id, s) =>
        s"""{"id":$id,"tasks":${s.tasks},"task_run_ms":${s.runMs},""" +
          s""""wall_ms":${s.wallMs},"name":${jsonString(s.name)}}"""
      }
      s""""jobs":$jobs,"stages":${stages.size},"tasks":${stages.values.map(_.tasks).sum},""" +
        s""""task_run_ms":${stages.values.map(_.runMs).sum},"task_cpu_ms":${cpuNs / 1000000},""" +
        s""""gc_ms":$gcMs,"spill_mem_b":$spillMem,"spill_disk_b":$spillDisk,""" +
        s""""peak_exec_mem_b":$peakMem,"shuffle_read_b":$shuffleRead,"shuffle_write_b":$shuffleWrite,""" +
        s""""batches":$batches,"duration_ms":""" +
        durationMs.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}") +
        s""","stage_table":${table.mkString("[", ",", "]")}"""
    }
  }

  /** The one SparkListener (and its StreamingQueryListener) of a profile.
    * Both deliver on listener-bus threads; every access holds this lock.
    */
  private final class Collector(sc: SparkContext) extends SparkListener {
    private var events = new Events

    /** Drain, reset, run `body`, drain: the returned record (the JSON fields
      * of [[Events]]) holds exactly the events `body` posted.
      */
    def around[A](body: => A): (A, String) = {
      GraftListenerBus.drain(sc)
      synchronized { events = new Events }
      val a = body
      GraftListenerBus.drain(sc)
      (a, synchronized(events.json))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(events.jobs += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = events.stages.getOrElseUpdate(e.stageId, new StageRow)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        events.cpuNs += m.executorCpuTime
        events.gcMs += m.jvmGCTime
        events.spillMem += m.memoryBytesSpilled
        events.spillDisk += m.diskBytesSpilled
        events.peakMem = math.max(events.peakMem, m.peakExecutionMemory)
        events.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        events.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val s = events.stages.getOrElseUpdate(i.stageId, new StageRow)
      s.wallMs = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
      s.name = i.name.takeWhile(_ != '\n').take(60)
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = Collector.this.synchronized {
        events.batches += 1
        e.progress.durationMs.asScala.foreach { case (k, v) =>
          events.durationMs(k) = events.durationMs.getOrElse(k, 0L) + v.longValue
        }
      }
    }
  }

  /** Points a 10 ms cell of the search table evaluates, about. */
  private val CostlyPoints = 128

  /** Sum of squares around 1/3 in every coordinate, computed after
    * spinning for `spinMs` per point (a CPU-bound objective); the time
    * inside `applyBatch` is added to `ns`.
    */
  private final class TableObjective(spinMs: Long, ns: LongAccumulator) extends Objective {
    def apply(x: Array[Double]): Double = {
      val until = System.nanoTime() + spinMs * 1000000L
      while (System.nanoTime() < until) {}
      var s = 0.0
      var i = 0
      while (i < x.length) { val d = x(i) - 1.0 / 3; s += d * d; i += 1 }
      s
    }
    override def applyBatch(xs: IndexedSeq[Array[Double]]): Array[Double] = {
      val t0 = System.nanoTime()
      val out = super.applyBatch(xs)
      ns.add(System.nanoTime() - t0)
      out
    }
  }

  /** Delegating client that counts the waves in flight at each submit. */
  private final class InFlight(inner: EvalClient) extends EvalClient {
    private val live = mutable.HashSet.empty[Long]
    private var submits, sum = 0L
    def mean: Double = if (submits == 0) 0.0 else sum.toDouble / submits
    override def submit(objective: Objective, points: IndexedSeq[Array[Double]]): Long = {
      val id = inner.submit(objective, points)
      live += id
      submits += 1
      sum += live.size
      id
    }
    override def hasResults: Boolean = inner.hasResults
    override def nextBatch(block: Boolean): Seq[(Long, Array[Double])] = {
      val out = inner.nextBatch(block)
      out.foreach(r => live -= r._1)
      out
    }
    override def capacityHint: Option[(Int, Int)] = inner.capacityHint
    override def shutdown(): Unit = inner.shutdown()
  }

  /** Runs the search table (see the usage above) and hands each line to
    * `emit`.
    */
  private[graft] def searchTable(spark: SparkSession, runs: Int)(emit: String => Unit): Unit = {
    val ns = spark.sparkContext.longAccumulator("profile.search.objective.ns")
    val start = System.nanoTime()
    emit("| d | batch | objective | client | evals | evals/s | evals/s range | in flight | objective share |")
    emit("| ---: | ---: | --- | --- | ---: | ---: | --- | ---: | ---: |")
    for (d <- Seq(2, 8, 32); b <- Seq(1, 6, 64); spinMs <- Seq(0L, 10L); onSpark <- Seq(false, true)) {
      val recs = (1 to runs).map { _ =>
        val client = new InFlight(if (onSpark) new SparkClient(spark) else new SerialClient)
        val opts = SearchOptions(stopratio = 1e-2, batchsize = Option.when(b > 1)(b), seed = Some(1),
          maxTasks = Option.when(spinMs > 0)(math.max(1, CostlyPoints / b).toLong))
        val ns0 = ns.sum
        val t0 = System.nanoTime()
        val res = try Search.minimize(new TableObjective(spinMs, ns), Array.fill(d)(3.0),
          Array.fill(d)(1.0), client, opts)
          finally client.shutdown()
        val wallNs = (System.nanoTime() - t0).toDouble
        (res.evaluations.size, res.evaluations.size / wallNs * 1e9, client.mean, (ns.sum - ns0) / wallNs)
      }
      val rates = recs.map(_._2)
      val objective = if (spinMs > 0) s"$spinMs ms" else "us"
      val clientName = if (onSpark) "SparkClient" else "SerialClient"
      emit(f"| $d | $b | $objective | $clientName | ${recs.head._1} | ${Bench.median(rates)}%.1f | " +
        f"${rates.min}%.1f..${rates.max}%.1f | ${Bench.median(recs.map(_._3))}%.2f | " +
        f"${Bench.median(recs.map(_._4))}%.3f |")
    }
    emit(f"table wall time: ${(System.nanoTime() - start) / 1e9}%.1f s ($runs run(s) per cell, " +
      s"${spark.sparkContext.defaultParallelism} cores)")
  }

  /** Copy i shifts keys by i·KeyStride, far above any sf0.1 key. The graph
    * rows pack two partkeys into one long (u·2³² + v, [[IdPack]]), so a
    * shifted key must stay below 2³²: with source keys below KeyStride,
    * K·KeyStride ≤ 2³² guarantees it (K ≤ 42).
    */
  private val KeyStride = 100000000L

  private def gen(src: String, out: String, k: Int): Unit = {
    require(k >= 1 && k.toLong * KeyStride <= IdPack.IdBound,
      s"K=$k: need 1 <= K and K * $KeyStride <= 2^32, or shifted keys overflow the u*2^32+v packing")
    val spark = Bench.benchSession(Bench.envCpus)
    def copies(df: DataFrame, shift: DataFrame => Int => DataFrame): DataFrame =
      (0 until k).map(i => shift(df)(i)).reduce(_ unionAll _)
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    copies(li, df => i => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyStride))
      .withColumn("l_partkey", col("l_partkey") + lit(i * KeyStride))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * KeyStride)))
      .repartition(64).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val o = spark.read.parquet(s"$src/orders.parquet")
    copies(o, df => i => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyStride))
      .withColumn("o_custkey", col("o_custkey") + lit(i * KeyStride)))
      .repartition(64).write.mode("overwrite").parquet(s"$out/orders.parquet")
    val d = spark.read.parquet(s"$src/documents.parquet")
    copies(d, df => i => df
      .withColumn("doc_id", col("doc_id") + lit(i * KeyStride))
      // token-level suffix: intra-copy gram/shingle structure is
      // preserved, inter-copy similarity is destroyed (disjoint corpora)
      .withColumn("text", array_join(
        transform(split(col("text"), " "), t => concat(t, lit("_" + i))), " ")))
      .repartition(64).write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"""{"metric":"scale_gen","src":"$src","out":"$out","k":$k}""")
    spark.stop()
  }
}
