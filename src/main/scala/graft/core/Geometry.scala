package graft.core

/**
 * Minimal planar geometry for the vector side of the engine: polygons
 * with holes, point-in-polygon, covering-cell enumeration, rasterization
 * (pixel-center fill + all-touched boundary traversal) and the polygon
 * layer probed through the flat [[PipIndex]].
 *
 * Semantics mirror the reference's use of `rasterio.features.rasterize`
 * (reference raster.py:2435-2455): polygons select pixels whose CENTER is
 * inside; `allTouched = true` additionally selects every pixel touched by
 * the boundary; overlapping geometries resolve LAST-GEOMETRY-WINS
 * (rasterize burns in order, later overwrites — raster.py:2442-2448).
 */
final case class Polygon(id: Int, shell: Array[(Double, Double)],
                         holes: Array[Array[(Double, Double)]] = Array.empty) {

  lazy val bbox: (Double, Double, Double, Double) = {
    var xmin = Double.MaxValue; var ymin = Double.MaxValue
    var xmax = Double.MinValue; var ymax = Double.MinValue
    shell.foreach { case (x, y) =>
      if (x < xmin) xmin = x; if (x > xmax) xmax = x
      if (y < ymin) ymin = y; if (y > ymax) ymax = y
    }
    (xmin, ymin, xmax, ymax)
  }

  /** Even-odd ray-cast point-in-polygon (holes subtract). */
  def contains(x: Double, y: Double): Boolean = {
    val (bx0, by0, bx1, by1) = bbox
    if (x < bx0 || x > bx1 || y < by0 || y > by1) return false
    var inside = ringContains(shell, x, y)
    var h = 0
    while (inside && h < holes.length) {
      if (ringContains(holes(h), x, y)) inside = false
      h += 1
    }
    inside
  }

  private def ringContains(ring: Array[(Double, Double)], x: Double, y: Double): Boolean = {
    var inside = false
    var i = 0
    var j = ring.length - 1
    while (i < ring.length) {
      val (xi, yi) = ring(i); val (xj, yj) = ring(j)
      if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) inside = !inside
      j = i; i += 1
    }
    inside
  }

  /** All rings (shell + holes), for boundary traversal. */
  def rings: Iterator[Array[(Double, Double)]] = Iterator(shell) ++ holes.iterator
}

object Polygon {
  /** Axis-aligned rectangle polygon (the oracle-SQL-friendly shape). */
  def rect(id: Int, xmin: Double, ymin: Double, xmax: Double, ymax: Double): Polygon =
    Polygon(id, Array((xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)))
}

/**
 * Open polyline (LineString) — the reference's line-geometry extraction
 * input (raster.py:2435-2455 rasterizes LineStrings with
 * all_touched=True; golden shape tests/test_extract.py:97). Unlike a
 * Polygon ring, the vertex chain is NOT closed: segments run between
 * consecutive points only.
 */
final case class Polyline(id: Int, pts: IndexedSeq[(Double, Double)]) {
  require(pts.length >= 2, "a polyline needs at least 2 points")
  /** Consecutive (x0, y0, x1, y1) segments — no closing edge. */
  def segments: Iterator[(Double, Double, Double, Double)] =
    pts.iterator.sliding(2).withPartial(false).map { s => (s(0)._1, s(0)._2, s(1)._1, s(1)._2) }
}

/**
 * Immutable polygon layer for point-in-polygon probes. The flat
 * [[PipIndex]] is built once, on the driver, and the set serializes AS
 * that index (`writeReplace`): a task deserializes primitive arrays and
 * rebuilds nothing. Every probe below, and the `PipWinner` /
 * `PipContains` expressions and `PipAssignExec` that call them, run on
 * that one kernel.
 */
final class PolygonSet private (source: IndexedSeq[Polygon],
                                private[graft] val index: PipIndex) extends Serializable {

  /** The polygons in input order (rebuilt from the index after shipping). */
  @transient lazy val polys: IndexedSeq[Polygon] = if (source != null) source else index.polygons

  /** Ids of polygons containing (x, y), ascending. */
  def containingIds(x: Double, y: Double): Array[Int] = index.containingIds(x, y)

  /** True if the point has a winner (mask / semi-join predicate). */
  def containsAny(x: Double, y: Double): Boolean = index.winner(x, y) != -1

  /**
   * Last-wins winner: the MAX polygon id containing the point, or -1.
   * Allocation-free — this runs once per ROW inside WholeStageCodegen.
   */
  def winner(x: Double, y: Double): Int = index.winner(x, y)

  /** Exact refine for a specific candidate id (ids need not be positions). */
  def contains(id: Int, x: Double, y: Double): Boolean = index.contains(id, x, y)

  override def toString: String = s"PolygonSet(${index.size} polygons)"

  private def writeReplace(): AnyRef = new PolygonSet.Shipped(index)

  /**
   * (cellId, polyId) covering pairs at a resolution — the equi-join
   * prejoin that replaces rasterize at scale (SURVEY.md §2.3): polygon
   * bbox -> covering cells (explodable), refined downstream by exact PIP.
   */
  def coverCells(res: Int): Seq[(Long, Int)] =
    polys.flatMap { p =>
      val (x0, y0, x1, y1) = p.bbox
      val ix0 = CellIndex.lonToIx(x0, res); val ix1 = CellIndex.lonToIx(math.nextDown(x1), res)
      val iy0 = CellIndex.latToIy(y0, res); val iy1 = CellIndex.latToIy(math.nextDown(y1), res)
      for {
        ix <- ix0 to ix1
        iy <- iy0 to iy1
      } yield (CellIndex.pack(res, ix, iy), p.id)
    }
}

object PolygonSet {
  def apply(polys: IndexedSeq[Polygon]): PolygonSet = new PolygonSet(polys, PipIndex.build(polys))

  /** Serialized form: the index alone. */
  private final class Shipped(index: PipIndex) extends Serializable {
    private def readResolve(): AnyRef = new PolygonSet(null, index)
  }
}
