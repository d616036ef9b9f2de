package graft.core

import scala.collection.mutable

/**
 * Flat point-in-polygon index: the one kernel behind every
 * [[PolygonSet]] probe. It is primitive arrays only, so a layer ships
 * with the plan as a handful of `double[]`/`int[]` blocks, tasks rebuild
 * nothing, and a probe allocates nothing.
 *
 * Geometry, by input position `p`: id `ids(p)`; closed bbox
 * `box(4p until 4p + 4)` = `Polygon.bbox` (x0, y0, x1, y1); rings
 * `polyRing(p) until polyRing(p + 1)`, shell first, then holes; ring `r`
 * has vertices `ringStart(r) until ringStart(r + 1)` of `xs`/`ys`.
 *
 * Routing: a dense `side` x `side` grid over the layer bbox whose cells
 * are quadtrees; a bucket holding more than [[PipIndex.MaxLeaf]]
 * candidates splits, to depth [[PipIndex.MaxDepth]]. A coordinate maps
 * once to an integer at the deepest level ([[PipIndex.fine]]) and every
 * level's cell is a shift of it, for probe points and polygon bboxes
 * alike. `fine` is monotone, so a point in a polygon's closed bbox always
 * reaches a leaf that lists the polygon. Refs in `root`/`kids`: `>= 0`
 * is a leaf, `< 0` is internal node `~ref` whose children sit at
 * `kids(4 * node + q)`, `q = (ybit << 1) | xbit`. Leaf `l` lists polygon
 * positions `cand(leafStart(l) until leafStart(l + 1))` in descending
 * id, so the first one containing the point is the last-wins winner.
 */
final class PipIndex private (
    ids: Array[Int], box: Array[Double], polyRing: Array[Int], ringStart: Array[Int],
    xs: Array[Double], ys: Array[Double],
    lx0: Double, ly0: Double, lx1: Double, ly1: Double, sx: Double, sy: Double, side: Int,
    root: Array[Int], kids: Array[Int], leafStart: Array[Int], cand: Array[Int],
    idKeys: Array[Int], idPos: Array[Int]) extends Serializable {
  import PipIndex.{MaxDepth, fine}

  /** Number of polygons (input positions). */
  def size: Int = ids.length

  /**
   * Last-wins winner: the max id >= 0 of a polygon containing the point,
   * or -1 (negative ids never win; NaN never hits).
   */
  def winner(x: Double, y: Double): Int = {
    val l = leafOf(x, y)
    if (l < 0) return -1
    var i = leafStart(l)
    val end = leafStart(l + 1)
    while (i < end) {
      val p = cand(i)
      val id = ids(p)
      if (id < 0) return -1
      if (polyContains(p, x, y)) return id
      i += 1
    }
    -1
  }

  /** Ids of all polygons containing the point (negative ids included), ascending. */
  def containingIds(x: Double, y: Double): Array[Int] = {
    val l = leafOf(x, y)
    if (l < 0) return Array.emptyIntArray
    val out = mutable.ArrayBuilder.make[Int]
    var i = leafStart(l + 1) - 1
    while (i >= leafStart(l)) {
      val p = cand(i)
      if (polyContains(p, x, y)) out += ids(p)
      i -= 1
    }
    out.result()
  }

  /**
   * Exact test against the polygon with this id (the last one in input
   * order when ids repeat); throws NoSuchElementException for an unknown id.
   */
  def contains(id: Int, x: Double, y: Double): Boolean = {
    val k = java.util.Arrays.binarySearch(idKeys, id)
    if (k < 0) throw new NoSuchElementException(s"key not found: $id")
    polyContains(idPos(k), x, y)
  }

  /** The polygons, rebuilt from the arrays, in input order. */
  def polygons: IndexedSeq[Polygon] = (0 until size).map { p =>
    def ring(r: Int) = Array.tabulate(ringStart(r + 1) - ringStart(r)) { k =>
      (xs(ringStart(r) + k), ys(ringStart(r) + k))
    }
    Polygon(ids(p), ring(polyRing(p)), (polyRing(p) + 1 until polyRing(p + 1)).map(ring).toArray)
  }

  /** Candidates listed in the leaf the point routes to (0 outside the layer bbox). */
  private[graft] def leafSize(x: Double, y: Double): Int = {
    val l = leafOf(x, y)
    if (l < 0) 0 else leafStart(l + 1) - leafStart(l)
  }

  /** Quadtree depth below the root grid of the point's leaf (-1 outside the layer bbox). */
  private[graft] def leafDepth(x: Double, y: Double): Int = (route(x, y) >> 32).toInt

  /** Candidate entries in all leaves plus nodes: what the build budget bounds. */
  private[graft] def footprint: Long = cand.length.toLong + root.length + kids.length

  private def leafOf(x: Double, y: Double): Int = route(x, y).toInt

  /** The point's leaf in the low word and its depth in the high word; -1 outside the layer bbox. */
  private def route(x: Double, y: Double): Long = {
    if (!(x >= lx0 && x <= lx1 && y >= ly0 && y <= ly1)) return -1L
    val ux = fine(x, lx0, sx, side); val uy = fine(y, ly0, sy, side)
    var ref = root((uy >>> MaxDepth) * side + (ux >>> MaxDepth))
    var s = MaxDepth
    while (ref < 0) {
      s -= 1
      ref = kids((~ref << 2) | (((uy >>> s) & 1) << 1) | ((ux >>> s) & 1))
    }
    (MaxDepth - s).toLong << 32 | ref
  }

  /** `Polygon.contains` over the flat arrays: same bbox test, same IEEE operation order. */
  private def polyContains(p: Int, x: Double, y: Double): Boolean = {
    val b = p << 2
    if (x < box(b) || x > box(b + 2) || y < box(b + 1) || y > box(b + 3)) return false
    val r0 = polyRing(p)
    var inside = ringContains(r0, x, y)
    var r = r0 + 1
    val r1 = polyRing(p + 1)
    while (inside && r < r1) {
      if (ringContains(r, x, y)) inside = false
      r += 1
    }
    inside
  }

  private def ringContains(r: Int, x: Double, y: Double): Boolean = {
    val end = ringStart(r + 1)
    var inside = false
    var i = ringStart(r)
    var j = end - 1
    while (i < end) {
      val xi = xs(i); val yi = ys(i); val xj = xs(j); val yj = ys(j)
      if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) inside = !inside
      j = i; i += 1
    }
    inside
  }
}

object PipIndex {
  /** A bucket holding more candidates than this splits into four. */
  final val MaxLeaf = 8
  /** Quadtree levels below a root grid cell. */
  final val MaxDepth = 16
  /** Root grid side cap, as a power of two (about a million root cells). */
  private final val MaxSideLog2 = 10
  /**
   * Build budget per polygon and root cell, in candidate entries plus
   * nodes. The root grid coarsens and breadth-first splits stop before
   * exceeding it, so heavily overlapping layers stay linear in size.
   */
  private[graft] final val BudgetPerItem = 32

  /**
   * Integer coordinate at the deepest level, clamped to the grid:
   * monotone in `v` (NaN and a degenerate `scale` of 0 map to 0).
   */
  private[core] def fine(v: Double, lo: Double, scale: Double, side: Int): Int = {
    val f = math.floor((v - lo) * scale)
    val max = (side << MaxDepth) - 1
    if (f >= max) max else if (f > 0) f.toInt else 0
  }

  def build(polys: IndexedSeq[Polygon]): PipIndex = {
    val n = polys.size
    val ids = new Array[Int](n)
    val box = new Array[Double](4 * n)
    val polyRing = new Array[Int](n + 1)
    val ringStart = mutable.ArrayBuilder.make[Int]
    val xs = mutable.ArrayBuilder.make[Double]
    val ys = mutable.ArrayBuilder.make[Double]
    ringStart += 0
    var nv = 0; var nr = 0
    for (p <- 0 until n) {
      val poly = polys(p)
      ids(p) = poly.id
      val (x0, y0, x1, y1) = poly.bbox
      box(4 * p) = x0; box(4 * p + 1) = y0; box(4 * p + 2) = x1; box(4 * p + 3) = y1
      polyRing(p) = nr
      poly.rings.foreach { ring =>
        ring.foreach { case (x, y) => xs += x; ys += y }
        nv += ring.length; nr += 1
        ringStart += nv
      }
    }
    polyRing(n) = nr

    // an inverted bbox (empty shell) can contain nothing: keep it out of the buckets
    val live = (0 until n).filter(p => box(4 * p) <= box(4 * p + 2) && box(4 * p + 1) <= box(4 * p + 3)).toArray
    var lx0 = Double.PositiveInfinity; var ly0 = Double.PositiveInfinity
    var lx1 = Double.NegativeInfinity; var ly1 = Double.NegativeInfinity
    live.foreach { p =>
      lx0 = math.min(lx0, box(4 * p)); ly0 = math.min(ly0, box(4 * p + 1))
      lx1 = math.max(lx1, box(4 * p + 2)); ly1 = math.max(ly1, box(4 * p + 3))
    }
    def scale(side: Int, lo: Double, hi: Double): Double = {
      val s = side.toDouble * (1 << MaxDepth) / (hi - lo)
      if (s > 0 && s < Double.PositiveInfinity) s else 0.0
    }
    def budget(side: Int): Long = BudgetPerItem.toLong * (live.length + side * side)
    def rootLoad(side: Int): Long = {
      val sx = scale(side, lx0, lx1); val sy = scale(side, ly0, ly1)
      def cells(lo: Double, hi: Double, o: Double, s: Double) =
        (fine(hi, o, s, side) >>> MaxDepth) - (fine(lo, o, s, side) >>> MaxDepth) + 1L
      side.toLong * side + live.iterator.map { p =>
        cells(box(4 * p), box(4 * p + 2), lx0, sx) * cells(box(4 * p + 1), box(4 * p + 3), ly0, sy)
      }.sum
    }
    // about 2*sqrt(n) root cells per side, as a power of two; halved while
    // polygons spanning many cells would overrun the budget at the root
    var side = 1 << (if (live.isEmpty) 0
                     else math.round(math.log(2 * math.sqrt(live.length.toDouble)) / math.log(2)).toInt
                       .max(0).min(MaxSideLog2))
    while (side > 1 && rootLoad(side) > budget(side)) side >>= 1
    val sx = scale(side, lx0, lx1); val sy = scale(side, ly0, ly1)
    val fx0 = new Array[Int](n); val fy0 = new Array[Int](n)
    val fx1 = new Array[Int](n); val fy1 = new Array[Int](n)
    live.foreach { p =>
      fx0(p) = fine(box(4 * p), lx0, sx, side); fy0(p) = fine(box(4 * p + 1), ly0, sy, side)
      fx1(p) = fine(box(4 * p + 2), lx0, sx, side); fy1(p) = fine(box(4 * p + 3), ly0, sy, side)
    }

    val rootBuckets = Array.fill(side * side)(mutable.ArrayBuilder.make[Int])
    live.foreach { p =>
      for (cy <- fy0(p) >>> MaxDepth to fy1(p) >>> MaxDepth; cx <- fx0(p) >>> MaxDepth to fx1(p) >>> MaxDepth)
        rootBuckets(cy * side + cx) += p
    }

    // breadth-first split; slot >= 0 is root(slot), slot < 0 is kids(~slot)
    final case class Pending(slot: Int, depth: Int, cx: Int, cy: Int, cands: Array[Int])
    val root = new Array[Int](side * side)
    val kids = mutable.ArrayBuffer.empty[Int]
    val leaves = mutable.ArrayBuffer.empty[Array[Int]]
    val queue = mutable.Queue.empty[Pending]
    var load = root.length.toLong
    for (c <- root.indices) {
      val cands = rootBuckets(c).result()
      load += cands.length
      queue += Pending(c, 0, c % side, c / side, cands)
    }
    def setRef(slot: Int, ref: Int): Unit = if (slot >= 0) root(slot) = ref else kids(~slot) = ref
    while (queue.nonEmpty) {
      val node = queue.dequeue()
      val parts = if (node.cands.length <= MaxLeaf || node.depth >= MaxDepth) null else {
        val t = MaxDepth - node.depth - 1
        val q = Array.fill(4)(mutable.ArrayBuilder.make[Int])
        node.cands.foreach { p =>
          val xl = (fx0(p) >>> t) <= 2 * node.cx; val xh = (fx1(p) >>> t) >= 2 * node.cx + 1
          val yl = (fy0(p) >>> t) <= 2 * node.cy; val yh = (fy1(p) >>> t) >= 2 * node.cy + 1
          if (yl && xl) q(0) += p
          if (yl && xh) q(1) += p
          if (yh && xl) q(2) += p
          if (yh && xh) q(3) += p
        }
        val parts = q.map(_.result())
        val grown = load - node.cands.length + parts.map(_.length).sum + 4
        // a split that repeats every candidate in all four children gains nothing
        if (parts.exists(_.length < node.cands.length) && grown <= budget(side)) { load = grown; parts } else null
      }
      if (parts == null) {
        setRef(node.slot, leaves.length)
        leaves += node.cands.sortBy(p => ids(p))(Ordering.Int.reverse)
      } else {
        val k = kids.length >> 2
        setRef(node.slot, ~k)
        kids ++= Array.fill(4)(0)
        for (q <- 0 until 4)
          queue += Pending(~(4 * k + q), node.depth + 1, 2 * node.cx + (q & 1), 2 * node.cy + (q >> 1), parts(q))
      }
    }
    val leafStart = leaves.scanLeft(0)(_ + _.length).toArray

    // id -> position of its last polygon (ids need not be positions, and may repeat)
    val lastPos = mutable.HashMap.empty[Int, Int]
    for (p <- 0 until n) lastPos(ids(p)) = p
    val idKeys = lastPos.keys.toArray.sorted

    new PipIndex(ids, box, polyRing, ringStart.result(), xs.result(), ys.result(),
      lx0, ly0, lx1, ly1, sx, sy, side,
      root, kids.toArray, leafStart, leaves.flatten.toArray, idKeys, idKeys.map(lastPos))
  }
}
