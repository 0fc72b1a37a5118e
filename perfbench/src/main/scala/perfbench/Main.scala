package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random

/** Benchmark process: sets up a `local[cores]` session, warms up, then runs
  * one workload as a closed loop with one client for `--seconds` and writes
  * the raw per-unit samples to `<out>/raw.json`. `run.py` turns them into
  * metrics. With `--trace 1`, units alternate untraced and traced, so one
  * run yields both the per-layer counters and the tracing overhead.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --cores C --rows NAME,NAME,... --data DIR --out DIR
  */
object Main {

  /** Warm-up, sized from the measured drift (see README.md). */
  val WarmupSearches = 5
  val WarmupPasses = 1

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val out = opt("out")
    require(Set("search_cheap", "rows_heavy")(workload), s"unknown workload $workload")

    val spark = session(cores, out)
    val warmup = mutable.ArrayBuffer.empty[Map[String, Any]]
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    var readyMs = 0L
    def timedLoop(minUnits: Int)(unit: (Int, Boolean) => Map[String, Any]): Unit = {
      readyMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var i = 0
      while (i < minUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
        units += unit(i, trace && i % 2 == 1)
        i += 1
      }
    }
    def guarded(traced: Boolean)(body: => Map[String, Any]): Map[String, Any] =
      try body
      catch { case e: Exception =>
        Map("traced" -> traced, "ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }

    if (workload == "rows_heavy") {
      val rows = new RowsWorkload(spark, opt("data"), out)
      val order = new Random(seed).shuffle(opt("rows").split(',').toSeq)
      def pass(traced: Boolean): Seq[Map[String, Any]] =
        order.map(r => guarded(traced)(rows.run(r, traced)) ++ Map("row" -> r))
      (1 to WarmupPasses).foreach(p => warmup ++= pass(false).map(_ ++ Map("pass" -> p)))
      // One unit is a whole pass; a traced run needs a pass of each kind.
      timedLoop(if (trace) 2 else 1) { (_, traced) =>
        val t0 = System.nanoTime()
        val execs = pass(traced)
        Map("traced" -> traced, "pass_s" -> (System.nanoTime() - t0) / 1e9, "rows" -> execs)
      }
      rows.writeResults()
    } else {
      val searches = new SearchWorkload(spark)
      val seeds = new Random(seed)
      (1 to WarmupSearches).foreach { _ =>
        warmup += guarded(false)(searches.run(seeds.nextLong(), traced = false))
      }
      // A traced run evaluates each instance twice, untraced then traced,
      // so the tracing overhead compares like with like.
      var s = 0L
      timedLoop(if (trace) 2 else 1) { (i, traced) =>
        if (!trace || i % 2 == 0) s = seeds.nextLong()
        guarded(traced)(searches.run(s, traced)) ++ Map("seed" -> s)
      }
    }

    val raw = Map(
      "workload" -> workload, "cores" -> cores, "ready_ms" -> readyMs,
      "peak_rss_kb" -> peakRssKb(), "warmup" -> warmup, "units" -> units)
    Files.writeString(Paths.get(out, "raw.json"), Json(raw))
    spark.stop()
  }

  /** The confs `graft.Bench` uses, with every scratch path inside `out`. */
  def session(cores: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def peakRssKb(): Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong
  }
}
