package graft.stencil

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** One step of the stencil stream, as consumed by the search loop: a
  * relative offset (in units of the current per-dimension step size) plus the
  * number of step halvings the step implies. This is the reduction of the
  * reference's `SimplexPoint` (stencil.py:7-64) to the two fields the driver
  * loop reads (search.py:266-267). `halvings` may be negative: the stencil
  * contains step-doubling expansion moves (stencil.py:17-23).
  */
final case class StencilStep(offset: Array[Double], halvings: Int) {
  override def toString: String =
    s"StencilStep([${offset.mkString(", ")}], halvings=$halvings)"
}

/** Lazy, infinite, deterministic stream of pattern-search trial offsets.
  *
  * Re-expression of the reference's `RightHandedSimplexStencil`
  * (stencil.py:77-204): a breadth-first expansion over reflections and
  * contractions of a right-handed simplex `[0-row; I_d]`, with two-level
  * deduplication — a spatially novel point is emitted exactly once
  * (`firstSeen` on the snapped coordinates, stencil.py:132-135), while a
  * spatially-seen point reached through a structurally new simplex still
  * propagates the BFS (`seen` on the full structural identity,
  * stencil.py:48-61, 169-176).
  *
  * All coordinates live on a fixed relative lattice with spacing
  * `2^(-maxHalvings-1)` (stencil.py:84, 126-127), which makes coordinate
  * equality exact and hash-based dedup sound.
  *
  * Generation is pure driver-side math (no Spark): the BFS order IS the
  * semantics the search loop depends on (the first `2*dims` steps must be the
  * unit axial steps ±e_i; search.py:254, 261, 286 key on that prefix).
  * Instances are not thread-safe; the search loop owns one instance.
  */
final class RightHandedSimplexStencil(val dims: Int, val maxHalvings: Int) {
  require(dims >= 1, s"dims must be >= 1, got $dims")

  val gridsize: Double = math.pow(2.0, -maxHalvings - 1)

  /** Snap a scalar to the stencil's relative lattice (stencil.py:126-127).
    * rint = round-half-even, matching NumPy. `+ 0.0` folds -0.0 into +0.0 so
    * the same location can never acquire two distinct keys.
    */
  def toGrid(x: Double): Double = math.rint(x / gridsize) * gridsize + 0.0

  // A simplex is a (dims+1) x dims matrix of small ints, stored flat
  // row-major and interned so structural identity checks are cheap
  // (the reference interns raw int8 bytes, stencil.py:100-110).
  private type Simplex = ArraySeq[Int]
  private val simplexIntern = mutable.HashMap.empty[Simplex, Simplex]

  private def intern(s: Simplex): Simplex = simplexIntern.getOrElseUpdate(s, s)

  private val initialSimplex: Simplex = intern(ArraySeq.unsafeWrapArray(
    Array.tabulate((dims + 1) * dims) { k =>
      val row = k / dims; val col = k % dims
      if (row == col + 1) 1 else 0
    }))

  /** Child simplex for vertex `index`: translate so vertex `index` is the
    * origin, reorder rows to `[index, 0..index-1, index+1..dims]`, and negate
    * if reflecting (stencil.py:100-110 + indexers stencil.py:86-89).
    */
  private def childSimplex(parent: Simplex, index: Int, isReflect: Boolean): Simplex = {
    if (index == 0 && !isReflect) return parent
    val d = dims
    val out = new Array[Int]((d + 1) * d)
    val sign = if (isReflect) -1 else 1
    var outRow = 0
    var srcRow = index // row order: index first, then all others in order
    var r = 0
    while (r <= d) {
      srcRow = if (r == 0) index else if (r <= index) r - 1 else r
      var c = 0
      while (c < d) {
        out(outRow * d + c) = sign * (parent(srcRow * d + c) - parent(index * d + c))
        c += 1
      }
      outRow += 1
      r += 1
    }
    intern(ArraySeq.unsafeWrapArray(out))
  }

  /** Internal BFS node: relative grid-snapped location + structural identity
    * (reference SimplexPoint, stencil.py:7-64).
    */
  private final class Node(
      val point: Array[Double],
      val pointKey: ArraySeq[Double],
      val stepsize: Double,
      val halvings: Int,
      val index: Int,
      val isReflect: Boolean,
      val isDoubled: Boolean,
      val simplex: Simplex) {
    def identity: (ArraySeq[Double], Simplex, Int, Int, Boolean, Boolean) =
      (pointKey, simplex, index, halvings, isReflect, isDoubled)
    def toStep: StencilStep = StencilStep(point, halvings)
  }

  /** Vertex `i` of `p`'s simplex scaled about `p`:
    * `point + scale * stepsize * simplex[i]`, grid-snapped. Scale 1 is a
    * child (stencil.py:32-34), -1 a reflection (stencil.py:36-40) and 0.5 a
    * contraction (stencil.py:42-46).
    */
  private def vertex(p: Node, i: Int, scale: Double): Node = {
    val step = scale * p.stepsize
    val coords = Array.tabulate(dims)(c => toGrid(p.point(c) + step * p.simplex(i * dims + c)))
    val isReflect = scale < 0
    // Step doubling: a reflect-of-reflect at vertex 1 expands the step
    // (stencil.py:17-23) — this is why halvings can go negative.
    val isDoubled = isReflect && p.isReflect && i == 1 && !p.isDoubled
    var stepsize = p.stepsize
    var halvings = p.halvings
    if (scale == 0.5) { stepsize = toGrid(step); halvings += 1 }
    else if (isDoubled) { stepsize = toGrid(2.0 * stepsize); halvings -= 1 }
    new Node(coords, ArraySeq.unsafeWrapArray(coords), stepsize, halvings,
      i, isReflect, isDoubled, childSimplex(p.simplex, i, isReflect))
  }

  /** Non-origin vertices of the simplex (stencil.py:32-34). */
  private def childPoints(p: Node): IndexedSeq[Node] = (1 to dims).map(vertex(p, _, 1.0))

  /** Mirror children; a pure re-reflection at vertex 0 of an (undoubled)
    * reflection is suppressed (stencil.py:36-40).
    */
  private def reflections(p: Node): IndexedSeq[Node] =
    if (p.index == 0 && p.isReflect && !p.isDoubled) IndexedSeq.empty
    else (0 to dims).map(vertex(p, _, -1.0))

  /** Half-step children, bounded by `maxHalvings` (stencil.py:42-46). */
  private def contractions(p: Node): IndexedSeq[Node] =
    if (p.halvings > maxHalvings) IndexedSeq.empty
    else (0 to dims).map(vertex(p, _, 0.5))

  /** Round-robin across children sequences, column by column — the order
    * toolz.interleave produces (stencil.py:156-161 fairness across queues).
    */
  private def interleaved(groups: Seq[IndexedSeq[Node]]): Iterator[Node] = {
    val live = groups.filter(_.nonEmpty)
    if (live.isEmpty) Iterator.empty
    else {
      val maxLen = live.map(_.length).max
      (0 until maxLen).iterator.flatMap(col => live.iterator.collect {
        case g if col < g.length => g(col)
      })
    }
  }

  /** The live BFS generator (stencil.py:129-200): five priority queues, a
    * reflections pass then a contractions pass per round. Terminates when all
    * queues drain (possible once maxHalvings bounds the contraction depth;
    * the reference handles the equivalent StopIteration at search.py:253-257).
    */
  private final class Gen extends Iterator[StencilStep] {
    private val seen = mutable.HashSet.empty[(ArraySeq[Double], Simplex, Int, Int, Boolean, Boolean)]
    private val firstSeen = mutable.HashSet.empty[ArraySeq[Double]]

    // The five BFS queues, in round order: self-reflections (vertex 0),
    // mirror reflections (vertex 1), other reflections, self-contractions
    // (vertex 0), other contractions.
    private var queues: IndexedSeq[List[Node]] = IndexedSeq.fill(5)(Nil)

    private var out: Iterator[StencilStep] = Iterator.empty

    locally {
      val origin = new Array[Double](dims)
      val root = new Node(origin, ArraySeq.unsafeWrapArray(origin), 1.0, 0,
        index = 0, isReflect = false, isDoubled = false, initialSimplex)
      seen += root.identity
      firstSeen += root.pointKey
      val first = childPoints(root) // the d positive axial steps
      first.foreach { p => firstSeen += p.pointKey; seen += p.identity }
      queues = IndexedSeq(Nil, Nil, Nil, List(root), Nil) // root seeds self-contractions
      out = first.iterator.map(_.toStep)
    }

    private def advanceRound(): Unit = {
      val emitted = mutable.ArrayBuffer.empty[StencilStep]
      val next = IndexedSeq.fill(5)(mutable.ListBuffer.empty[Node])
      // A spatially new point is emitted and queued last in `into`; a seen
      // point on a structurally new simplex is queued by vertex index
      // (stencil.py:156-195). Both passes read the old queues.
      def pass(moves: Node => IndexedSeq[Node], into: IndexedSeq[mutable.ListBuffer[Node]]): Unit =
        for (q <- queues; p <- interleaved(q.map(moves))) {
          if (firstSeen.add(p.pointKey)) {
            emitted += p.toStep
            seen += p.identity
            into.last += p
          } else if (seen.add(p.identity)) into(math.min(p.index, into.length - 1)) += p
        }
      pass(reflections, next.take(3))
      pass(contractions, next.drop(3))
      queues = next.map(_.toList)
      out = emitted.iterator
    }

    override def hasNext: Boolean = {
      while (!out.hasNext && queues.exists(_.nonEmpty)) advanceRound()
      out.hasNext
    }

    override def next(): StencilStep =
      if (hasNext) out.next() else Iterator.empty.next()
  }

  // Prefix cache: every recenter replays the already-generated prefix without
  // regenerating it (stencil.py:97-98, 136, 202-203).
  private val cache = mutable.ArrayBuffer.empty[StencilStep]
  private val live = new Gen

  /** Deterministic infinite-ish stream of stencil steps; each call returns a
    * fresh iterator that replays the cached prefix then extends it
    * (stencil.py:202-203). Only one returned iterator should be actively
    * consumed at a time (matching the reference's usage).
    */
  def stencilPoints: Iterator[StencilStep] = new Iterator[StencilStep] {
    private var i = 0
    override def hasNext: Boolean = i < cache.length || live.hasNext
    override def next(): StencilStep = {
      if (i >= cache.length) cache += live.next()
      val s = cache(i)
      i += 1
      s
    }
  }
}
