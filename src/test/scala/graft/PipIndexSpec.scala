package graft

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{PipIndex, Polygon, PolygonSet}

/**
 * The flat PIP index against a brute-force scan over `Polygon.contains`:
 * every entry point on adversarial layers and probes, its leaf-load
 * bound on a clustered layer, its size bound on overlapping layers, and
 * its per-call allocation.
 */
class PipIndexSpec extends AnyFunSuite {

  private def star(r: SplittableRandom, id: Int, cx: Double, cy: Double, rad: Double,
                   hole: Boolean): Polygon = {
    val k = 3 + r.nextInt(10)
    def ring(scale: Double): Array[(Double, Double)] = Array.tabulate(k) { i =>
      val a = 2 * math.Pi * (i + 0.4 * r.nextDouble()) / k
      val rr = rad * scale * (1.0 - 0.5 * r.nextDouble())
      (cx + rr * math.cos(a), cy + rr * math.sin(a))
    }
    Polygon(id, ring(1.0), if (hole) Array(ring(0.4)) else Array.empty)
  }

  /**
   * Overlapping stars with holes around the origin (so -0.0 matters),
   * ids drawn non-contiguous, negative and repeated, plus zero-area and
   * empty-shell polygons.
   */
  private def layer(seed: Long, n: Int): IndexedSeq[Polygon] = {
    val r = new SplittableRandom(seed)
    val ids = Array.tabulate(n)(i => if (i % 7 == 3) -1 - r.nextInt(5) else 3 * i + r.nextInt(3))
    (0 until n).map { i =>
      val id = if (i > 0 && i % 11 == 0) ids(r.nextInt(i)) else ids(i)
      val cx = -20 + 40 * r.nextDouble(); val cy = -10 + 20 * r.nextDouble()
      i % 13 match {
        case 5 => Polygon(id, Array((cx, cy), (cx + 2, cy + 1), (cx + 4, cy + 2)))  // collinear
        case 6 => Polygon(id, Array((cx, cy), (cx, cy), (cx, cy)))                   // one point
        case 7 => Polygon(id, Array.empty)                                           // empty shell
        case _ => star(r, id, cx, cy, 0.5 + 8 * r.nextDouble(), hole = i % 3 == 0)
      }
    }
  }

  /**
   * Random points, every vertex, points on every edge, bbox edges, fine
   * split lines, the layer max edge and special values.
   */
  private def probes(polys: IndexedSeq[Polygon], seed: Long): Seq[(Double, Double)] = {
    val r = new SplittableRandom(seed)
    val boxes = polys.map(_.bbox).filter(b => b._1 <= b._3)
    val (lx0, ly0) = (boxes.map(_._1).min, boxes.map(_._2).min)
    val (lx1, ly1) = (boxes.map(_._3).max, boxes.map(_._4).max)
    def rx = lx0 - 1 + (lx1 - lx0 + 2) * r.nextDouble()
    def ry = ly0 - 1 + (ly1 - ly0 + 2) * r.nextDouble()
    // quadtree split lines: dyadic fractions of the layer bbox, and their neighbours
    def split(lo: Double, hi: Double): Double = {
      val d = 1 + r.nextInt(20)
      val v = lo + (hi - lo) * r.nextInt(1 << d) / (1 << d)
      r.nextInt(3) match { case 0 => math.nextDown(v); case 1 => v; case _ => math.nextUp(v) }
    }
    // on an edge: x at the crossing `Polygon.contains` computes for y, and one ulp either side
    val edges = polys.flatMap(_.rings).flatMap { ring =>
      ring.indices.map(i => (ring(i), ring((i + 1) % ring.length)))
    }
    val onEdges = edges.flatMap { case ((xi, yi), (xj, yj)) =>
      val y = yi + (yj - yi) * r.nextDouble()
      val x = (xj - xi) * (y - yi) / (yj - yi) + xi
      Seq((math.nextDown(x), y), (x, y), (math.nextUp(x), y))
    }
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0)
    Seq.fill(3000)((rx, ry)) ++
      polys.flatMap(_.rings.flatten) ++ onEdges ++
      boxes.flatMap { case (x0, y0, x1, y1) =>
        Seq((x0, y0), (x1, y1), (x0, ry), (x1, ry), (rx, y0), (rx, y1), ((x0 + x1) / 2, y1)) } ++
      Seq.fill(1500)((split(lx0, lx1), ry)) ++ Seq.fill(1500)((rx, split(ly0, ly1))) ++
      Seq.fill(500)((split(lx0, lx1), split(ly0, ly1))) ++
      Seq((lx1, ly1), (lx1, ry), (rx, ly1), (lx0, ly0), (math.nextUp(lx1), ry), (rx, math.nextUp(ly1))) ++
      special.flatMap(s => Seq((s, ry), (rx, s), (s, s), (s, 0.0), (0.0, s)))
  }

  private def checkAgainstBrute(polys: IndexedSeq[Polygon], pts: Seq[(Double, Double)]): PolygonSet = {
    val set = PolygonSet(polys)
    val lastById = polys.map(p => p.id -> p).toMap
    for ((x, y) <- pts) {
      val hits = polys.filter(_.contains(x, y))
      val want = hits.map(_.id).filter(_ >= 0).maxOption.getOrElse(-1)
      assert(set.winner(x, y) === want, s"winner($x, $y)")
      assert(set.containsAny(x, y) === (want != -1), s"containsAny($x, $y)")
      assert(set.containingIds(x, y).toSeq === hits.map(_.id).sorted, s"containingIds($x, $y)")
      for ((id, p) <- lastById)
        assert(set.contains(id, x, y) === p.contains(x, y), s"contains($id, $x, $y)")
    }
    set
  }

  test("winner / containsAny / contains(id) / containingIds equal a brute-force scan on random layers") {
    for (seed <- 1L to 4L) {
      val polys = layer(seed, 60 + 40 * seed.toInt)
      val pts = probes(polys, seed + 100)
      val set = checkAgainstBrute(polys, pts)
      // the probes must reach quadtree leaves below the root grid
      assert(pts.exists { case (x, y) => set.index.leafDepth(x, y) > 0 })
    }
  }

  test("single-polygon, all-degenerate and empty layers answer like the brute force") {
    val r = new SplittableRandom(9)
    val one = IndexedSeq(star(r, 4, 1.5, -2.5, 3.0, hole = true))
    checkAgainstBrute(one, probes(one, 1))
    val flat = IndexedSeq(Polygon(0, Array((0.0, 0.0), (1.0, 0.0), (2.0, 0.0))), Polygon(1, Array.empty))
    checkAgainstBrute(flat, probes(flat, 2))
    val empty = PolygonSet(IndexedSeq.empty)
    for ((x, y) <- Seq((0.0, 0.0), (Double.NaN, 1.0), (Double.PositiveInfinity, -0.0))) {
      assert(empty.winner(x, y) === -1)
      assert(!empty.containsAny(x, y))
      assert(empty.containingIds(x, y).isEmpty)
    }
    assertThrows[NoSuchElementException](empty.contains(0, 0.0, 0.0))
  }

  test("clustered layer: every probed leaf holds <= MaxLeaf candidates unless at the depth cap") {
    // 2999 tiny polygons inside one square degree plus one global polygon
    val r = new SplittableRandom(3)
    val tiny = (0 until 2999).map { i =>
      star(r, i, 10 + r.nextDouble(), 20 + r.nextDouble(), 0.001 + 0.004 * r.nextDouble(), hole = i % 3 == 0)
    }
    val polys = tiny :+ Polygon.rect(2999, -180, -90, 180, 90)
    val set = PolygonSet(polys)
    val pts = Seq.fill(4000)((10 + r.nextDouble(), 20 + r.nextDouble())) ++
      Seq.fill(1000)((-180 + 360 * r.nextDouble(), -90 + 180 * r.nextDouble())) ++
      tiny.take(300).flatMap(_.shell)
    assert(pts.exists { case (x, y) => set.index.leafDepth(x, y) > 2 })
    for ((x, y) <- pts) {
      val n = set.index.leafSize(x, y)
      assert(n <= PipIndex.MaxLeaf || set.index.leafDepth(x, y) == PipIndex.MaxDepth,
        s"leaf at ($x, $y) holds $n candidates at depth ${set.index.leafDepth(x, y)}")
    }
    checkAgainstBrute(polys.take(400) :+ polys.last, pts.take(800))
    for ((x, y) <- pts) {
      val want = polys.filter(_.contains(x, y)).map(_.id).max
      assert(set.winner(x, y) === want)
    }
  }

  test("heavily overlapping layers stay within the build budget and still answer exactly") {
    val r = new SplittableRandom(5)
    // 40 nested squares and 30 identical thin strips: no split separates them
    val nested = (0 until 40).map(i => Polygon.rect(i, -50.0 + i, -50.0 + i, 50.0 - i, 50.0 - i))
    val strips = (40 until 70).map(i => Polygon.rect(i, 3.0, -60.0, 3.001, 60.0))
    val polys = nested ++ strips
    val set = PolygonSet(polys)
    assert(set.index.footprint <= PipIndex.BudgetPerItem * 9L * polys.size)
    checkAgainstBrute(polys, probes(polys, 5) ++
      Seq.fill(500)((3.0 + 0.001 * r.nextDouble(), -60 + 120 * r.nextDouble())))
  }

  test("winner allocates nothing per call after warm-up") {
    val r = new SplittableRandom(11)
    val set = PolygonSet(PipLayers.globe(3000, 1))
    val n = 100000
    val xs = Array.fill(n)(-180 + 360 * r.nextDouble())
    val ys = Array.fill(n)(-90 + 180 * r.nextDouble())
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def sweep(): Long = {
      var acc = 0L
      var i = 0
      while (i < n) { acc += set.winner(xs(i), ys(i)); i += 1 }
      acc
    }
    var check = 0L
    for (_ <- 1 to 20) check += sweep()
    val before = bean.getCurrentThreadAllocatedBytes
    check += sweep()
    val allocated = bean.getCurrentThreadAllocatedBytes - before
    assert(check != Long.MinValue)
    assert(allocated.toDouble / n < 1.0, s"$allocated bytes over $n calls")
  }
}

object PipLayers {
  /**
   * `n` star-shaped polygons spread over the globe, ids 0..n-1, every
   * third with a hole; neighbours overlap (the benchmark's layer shape).
   */
  def globe(n: Int, seed: Long): IndexedSeq[Polygon] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    (0 until n).map { id =>
      val cx = -176.0 + 352.0 * r.nextDouble()
      val cy = -82.0 + 164.0 * r.nextDouble()
      val rad = 0.6 + 1.8 * r.nextDouble()
      val k = 6 + r.nextInt(9)
      def ring(scale: Double, jitter: Double): Array[(Double, Double)] =
        Array.tabulate(k) { i =>
          val a = 2 * math.Pi * (i + 0.4 * r.nextDouble()) / k
          val rr = rad * scale * (1.0 - jitter * r.nextDouble())
          (cx + rr * math.cos(a), cy + rr * math.sin(a))
        }
      val shell = ring(1.0, 0.4)
      Polygon(id, shell, if (id % 3 == 0) Array(ring(0.35, 0.3)) else Array.empty)
    }
  }
}
