package perfbench

import graft.search.{EvalClient, Objective, Search, SearchOptions, SearchResult}
import graft.spark.{Provenance, SparkClient}
import graft.stencil.RightHandedSimplexStencil
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

import scala.collection.mutable
import scala.util.Random

/** One seeded minimisation problem; `distance` is how far a point lies from
  * the known minimiser, in initial steps.
  */
final case class Problem(
    objective: Objective,
    x0: Array[Double],
    stepsize: Array[Double],
    distance: Array[Double] => Double)

/** Axis-aligned ellipsoid `Σ w_i (x_i − c_i)²`: microseconds per point, so
  * Spark job and wave overhead is nearly all of a search's wall time.
  */
final class Ellipsoid(centre: Array[Double], weight: Array[Double]) extends Objective {
  def apply(x: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { val d = x(i) - centre(i); s += weight(i) * d * d; i += 1 }
    s
  }
}

/** Delegating client that times the Spark path of one traced search. */
final class TracedClient(inner: EvalClient) extends EvalClient {
  val submitAt = mutable.HashMap.empty[Long, Long]
  val waveMs = mutable.ArrayBuffer.empty[Double]
  var submitNs = 0L
  var nextBatchNs = 0L
  var blockedNs = 0L
  var submits = 0L
  var inflightSum = 0L

  override def submit(objective: Objective, points: IndexedSeq[Array[Double]]): Long = {
    val t0 = System.nanoTime()
    val id = inner.submit(objective, points)
    submitNs += System.nanoTime() - t0
    submitAt(id) = t0
    submits += 1
    inflightSum += submitAt.size
    id
  }

  override def hasResults: Boolean = inner.hasResults

  override def nextBatch(block: Boolean): Seq[(Long, Array[Double])] = {
    val t0 = System.nanoTime()
    val out = inner.nextBatch(block)
    val t1 = System.nanoTime()
    nextBatchNs += t1 - t0
    if (block) blockedNs += t1 - t0
    out.foreach { case (id, _) => submitAt.remove(id).foreach(s => waveMs += (t1 - s) / 1e6) }
    out
  }

  override def capacityHint: Option[(Int, Int)] = inner.capacityHint
  override def shutdown(): Unit = inner.shutdown()
}

/** Objective wrapper summing time inside `applyBatch` on the executors. */
final class TimedObjective(inner: Objective, ns: LongAccumulator) extends Objective {
  def apply(x: Array[Double]): Double = inner(x)
  override def applyBatch(xs: IndexedSeq[Array[Double]]): Array[Double] = {
    val t0 = System.nanoTime()
    val out = inner.applyBatch(xs)
    ns.add(System.nanoTime() - t0)
    out
  }
}

/** `search_cheap`: a closed loop of seeded d=4 `minimize` runs on
  * `SparkClient`, one search at a time and one Spark job per point
  * (`batchsize = None`).
  */
final class SearchWorkload(spark: SparkSession) {
  private val dims = 4
  private val stopratio = 1e-2
  /** Limit on the best point's distance from the minimiser, in initial
    * steps. A search may stop right after accepting a finest-scale stencil
    * point, before any failed poll at that scale, so stopratio alone bounds
    * nothing. Over 40,000 seeded instances run on `SerialClient` the largest
    * distance was 0.0085, 1.1 steps of the final grid (1/128 of the initial
    * step); the limit is four grid steps, a 3.7x margin. run.py prints the
    * largest distance each run saw.
    */
  private val minimiserLimit: Double = 4 * math.pow(2.0, -Search.maxHalvingsFor(stopratio))
  private val objectiveNs = spark.sparkContext.longAccumulator("perfbench.objective.ns")

  /** Instances vary with the seed but are about equally hard, so a run's
    * median search time does not hinge on which instances it drew.
    */
  def problem(seed: Long): Problem = {
    val rng = new Random(seed)
    def jitter(v: Double) = v * (0.9 + 0.2 * rng.nextDouble())
    def sign() = if (rng.nextBoolean()) 1.0 else -1.0
    val centre = Array.tabulate(dims)(_ => rng.nextDouble() * 10 - 5)
    val weight = rng.shuffle(Seq(1.0, 2.0, 4.0, 8.0)).map(jitter).toArray
    val x0 = Array.tabulate(dims)(i => centre(i) + sign() * jitter(3.0))
    val f = new Ellipsoid(centre, weight)
    // Weighted RMS distance sqrt(f(x) / Σ w), in unit initial steps.
    Problem(f, x0, Array.fill(dims)(1.0), x => math.sqrt(f(x) / weight.sum))
  }

  /** Runs and checks one search; all timing fields are for this search. */
  def run(seed: Long, traced: Boolean): Map[String, Any] = {
    val pb = problem(seed)
    val traceLines = mutable.ArrayBuffer.empty[String]
    val base = new SparkClient(spark)
    val client = if (traced) new TracedClient(base) else base
    val objective = if (traced) new TimedObjective(pb.objective, objectiveNs) else pb.objective
    val opts = SearchOptions(
      stopratio = stopratio, seed = Some(seed),
      trace = if (traced) Some((l: String) => traceLines += l) else None)
    val ns0 = objectiveNs.sum
    val ((res, provRows, tm), probe) = Trace.around(spark, traced) {
      val t0 = System.nanoTime()
      val res = try Search.minimize(objective, pb.x0, pb.stepsize, client, opts)
        finally client.shutdown()
      val t1 = System.nanoTime()
      val df = Provenance.toDF(spark, res)
      val t2 = System.nanoTime()
      df.queryExecution.executedPlan
      val t3 = System.nanoTime()
      val n = df.count()
      val t4 = System.nanoTime()
      (res, n, Array(t0, t1, t2, t3, t4))
    }
    val out = mutable.LinkedHashMap[String, Any](
      "traced" -> traced, "ok" -> true, "seed" -> seed,
      "solve_s" -> (tm(4) - tm(0)) / 1e9,
      "evals" -> res.evaluations.size)
    check(pb, res, provRows).foreach { msg => out("ok") = false; out("error") = msg }
    out("minimiser_steps") = pb.distance(res.best.point)
    if (traced) {
      val c = client.asInstanceOf[TracedClient]
      val recenters = traceLines.filter(_.startsWith("recenter "))
      val steps = recenters.map(l => field(l, "stencilIndex").toLong)
      out ++= Map(
        "minimize_ms" -> (tm(1) - tm(0)) / 1e6,
        "submit_ms" -> c.submitNs / 1e6,
        "nextbatch_ms" -> c.nextBatchNs / 1e6,
        "blocked_ms" -> c.blockedNs / 1e6,
        "waves" -> c.submits,
        "inflight_sum" -> c.inflightSum,
        "wave_ms" -> c.waveMs.toSeq,
        "objective_ms" -> (objectiveNs.sum - ns0) / 1e6,
        "accepts" -> recenters.count(_.contains("kind=accept")),
        "contractions" -> recenters.count(_.contains("kind=contract")),
        "stencil_steps" -> steps.sum,
        "stencil_gen_ms" -> stencilGenMs(steps.toSeq),
        "build_ms" -> (tm(2) - tm(1)) / 1e6,
        "plan_ms" -> (tm(3) - tm(2)) / 1e6,
        "exec_ms" -> (tm(4) - tm(3)) / 1e6)
      out ++= probe
    }
    out.toMap
  }

  private def field(line: String, key: String): String =
    line.split(' ').find(_.startsWith(key + "=")).get.drop(key.length + 1)

  /** Regenerates the stencil steps one search consumed, standalone. */
  private def stencilGenMs(stepsPerRecenter: Seq[Long]): Double = {
    val stencil = new RightHandedSimplexStencil(dims, Search.maxHalvingsFor(stopratio))
    val t0 = System.nanoTime()
    var sink = 0.0
    stepsPerRecenter.foreach { n =>
      stencil.stencilPoints.take(n.toInt).foreach(s => sink += s.offset(0))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink.isNaN) throw new IllegalStateException("stencil offset is NaN")
    ms
  }

  /** Correctness of one finished search; None when every check passes. */
  def check(pb: Problem, res: SearchResult, provRows: Long): Option[String] = {
    val evals = res.evaluations
    val rows = Provenance.toRows(res)
    val parentOf = rows.map(r => r.key -> r.parentKey).toMap
    def reachesRoot(key: String): Boolean = {
      var k = key
      var hops = 0
      while (hops <= rows.size && parentOf.get(k).exists(_ != k)) { k = parentOf(k); hops += 1 }
      parentOf.get(k).contains(k)
    }
    val recomputed = pb.objective(res.best.point)
    if (evals.isEmpty) Some("no evaluations")
    else if (!evals.forall(p => p.isDone && java.lang.Double.isFinite(p.cost)))
      Some("an evaluation is unfinished or has a non-finite cost")
    else if (provRows != evals.size)
      Some(s"provenance has $provRows rows for ${evals.size} evaluations")
    else if (!rows.forall(r => reachesRoot(r.key)))
      Some("a parentKey does not resolve back to the root")
    else if (recomputed != res.bestCost)
      Some(s"best cost ${res.bestCost} but the objective re-evaluates to $recomputed")
    else {
      val dist = pb.distance(res.best.point)
      if (dist <= minimiserLimit) None
      else Some(s"best point is $dist initial steps from the minimiser (limit $minimiserLimit)")
    }
  }
}
