package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

class GeometrySpec extends AnyFunSuite {

  val rect = Polygon.rect(0, 0.0, 0.0, 10.0, 5.0)
  val concave = Polygon(1, Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (5.0, 5.0), (0.0, 10.0)))
  val withHole = Polygon(2, Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)),
    Array(Array((4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0))))

  test("rect containment") {
    assert(rect.contains(5.0, 2.5))
    assert(!rect.contains(-0.1, 2.5))
    assert(!rect.contains(5.0, 5.1))
  }

  test("concave polygon: notch is outside") {
    assert(concave.contains(1.0, 1.0))
    assert(concave.contains(5.0, 4.0))   // below the notch
    assert(!concave.contains(5.0, 8.0))  // inside the notch
  }

  test("hole subtracts") {
    assert(withHole.contains(2.0, 2.0))
    assert(!withHole.contains(5.0, 5.0)) // in the hole
  }

  test("PolygonSet winner = last (max id) containing polygon — rasterize overwrite semantics") {
    val set = PolygonSet(IndexedSeq(
      Polygon.rect(0, 0, 0, 10, 10), Polygon.rect(1, 5, 5, 15, 15)))
    assert(set.winner(2, 2) === 0)
    assert(set.winner(7, 7) === 1)   // overlap -> later wins (raster.py:2442-2448)
    assert(set.winner(12, 12) === 1)
    assert(set.winner(20, 20) === -1)
  }

  test("R-tree query agrees with brute force on random points") {
    val polys = (0 until 40).map { i =>
      val x = (i % 8) * 40.0 - 160.0 + (i % 3) * 2.1
      val y = (i / 8) * 25.0 - 60.0 + (i % 5) * 1.3
      Polygon.rect(i, x, y, x + 30.7, y + 18.9)
    }
    val set = PolygonSet(polys.toIndexedSeq)
    val r0 = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val x = r0.nextDouble() * 360.0 - 180.0
      val y = r0.nextDouble() * 180.0 - 90.0
      val brute = polys.filter(_.contains(x, y)).map(_.id).sorted
      assert(set.containingIds(x, y).toSeq === brute)
    }
  }

  test("coverCells covers every interior point of each polygon") {
    val set = PolygonSet(IndexedSeq(Polygon.rect(0, -10.3, -5.7, 20.1, 15.9)))
    val cover = set.coverCells(8).map(_._1).toSet
    val r0 = new scala.util.Random(11)
    (1 to 1000).foreach { _ =>
      val x = -10.3 + r0.nextDouble() * (20.1 - -10.3)
      val y = -5.7 + r0.nextDouble() * (15.9 - -5.7)
      assert(cover.contains(CellIndex.encode(x, y, 8)))
    }
  }

  test("PolygonSet survives java serialization (plan shipping) and still answers") {
    val set = PolygonSet(IndexedSeq(Polygon.rect(0, 0, 0, 10, 10)))
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(set)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject().asInstanceOf[PolygonSet]
    assert(back.winner(5, 5) === 0)
    assert(back.winner(50, 50) === -1)

    // a 3000-polygon layer with holes ships as its flat index: no Polygon
    // or tuple objects on the wire, the index read back is the one used
    // (nothing rebuilt), and every probe answers as before the trip
    val polys = PipLayers.globe(3000, 1)
    val big = PolygonSet(polys)
    val out = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(out).writeObject(big)
    val classes = scala.collection.mutable.Set.empty[String]
    val resolved = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(out.toByteArray)) {
      enableResolveObject(true)
      override def resolveClass(d: java.io.ObjectStreamClass): Class[_] = {
        classes += d.getName; super.resolveClass(d)
      }
      override def resolveObject(o: AnyRef): AnyRef = { resolved += o; o }
    }
    val shipped = in.readObject().asInstanceOf[PolygonSet]
    assert(!classes.exists(n => n == classOf[Polygon].getName || n.startsWith("scala.Tuple2")), classes)
    assert(resolved.exists(_ eq shipped.index))
    val r0 = new scala.util.Random(17)
    (1 to 20000).foreach { _ =>
      val x = r0.nextDouble() * 360.0 - 180.0
      val y = r0.nextDouble() * 180.0 - 90.0
      assert(shipped.winner(x, y) === big.winner(x, y))
      assert(shipped.containingIds(x, y).toSeq === big.containingIds(x, y).toSeq)
      val id = r0.nextInt(3000)
      assert(shipped.contains(id, x, y) === big.contains(id, x, y))
    }
    assert(shipped.polys.map(p => (p.id, p.shell.toSeq, p.holes.map(_.toSeq).toSeq)) ===
      polys.map(p => (p.id, p.shell.toSeq, p.holes.map(_.toSeq).toSeq)))
    // measured 998,616 bytes (the Polygon-object form was 1,066,216)
    assert(out.size <= 1040000, s"${out.size} bytes")
  }

  test("PolygonSet.contains(id) refines against the RIGHT polygon for non-contiguous ids") {
    // ids 7 and 42 at positions 0 and 1: a positional polys(id) lookup
    // would throw or (with ids < n) silently test the wrong polygon
    val set = PolygonSet(IndexedSeq(
      Polygon.rect(7, 0, 0, 10, 10), Polygon.rect(42, 100, 100, 110, 110)))
    assert(set.contains(7, 5, 5))
    assert(!set.contains(7, 105, 105))
    assert(set.contains(42, 105, 105))
    assert(!set.contains(42, 5, 5))
    assert(set.winner(5, 5) === 7)
    assert(set.containingIds(105, 105).toSeq === Seq(42))
  }
}

/**
 * UTM zones (operators.Utm.params over the generic TM series):
 * scalar-instance checks through the zone transforms — the engine
 * kernel evaluates the same instance, the SQL twin is the same generic
 * code, and q68 pins them cross-engine.
 */
class UtmSpec extends AnyFunSuite {
  import graft.operators.Warp.{LonLatToUtm, UtmToLonLat}
  private def fwd(lon: Double, lat: Double, north: Boolean = true) =
    LonLatToUtm(31, north).toSourcePt(lon, lat)
  private def inv(e: Double, n: Double, north: Boolean = true) =
    UtmToLonLat(31, north).toSourcePt(e, n)

  test("central meridian maps to the false easting exactly; equator to N=0") {
    val (e, n) = fwd(3.0, 0.0)
    assert(e === 500000.0)
    assert(n === 0.0)
  }

  test("meridian arc at 45N matches the textbook WGS84 value (k0-scaled)") {
    // meridian distance from the equator to lat 45 deg on WGS84 is
    // 4984944.378 m (Snyder, Table 15 / standard series); N = k0 * arc
    val (_, n) = fwd(3.0, 45.0)
    assert(math.abs(n - 0.9996 * 4984944.378) < 1.0)
  }

  test("forward/inverse round-trip over the zone window: < 1e-7 deg") {
    for (lon <- BigDecimal(0.3) to BigDecimal(5.7) by 0.9;
         lat <- BigDecimal(-55.0) to BigDecimal(55.0) by 13.75) {
      val (e, n) = fwd(lon.toDouble, lat.toDouble)
      val (lon2, lat2) = inv(e, n)
      assert(math.abs(lon2 - lon.toDouble) < 1e-7, s"lon @($lon,$lat)")
      assert(math.abs(lat2 - lat.toDouble) < 1e-7, s"lat @($lon,$lat)")
    }
  }

  test("southern hemisphere: false northing 10^7, round-trip holds") {
    val (e, n) = fwd(2.1, -33.7, north = false)
    assert(n > 6000000.0 && n < 10000000.0)
    val (lon2, lat2) = inv(e, n, north = false)
    assert(math.abs(lon2 - 2.1) < 1e-7 && math.abs(lat2 - (-33.7)) < 1e-7)
  }

  test("scale factor at the central meridian is k0 within the series order") {
    // two points 1 km apart along the CM: projected distance / true
    // meridian distance ~ k0 (use the round-trip-consistent arc)
    val (_, n1) = fwd(3.0, 45.0)
    val (_, n2) = fwd(3.0, 45.009)
    val arcPerDeg = 111131.7 // meridian arc meters/deg near 45N (textbook)
    val ratio = (n2 - n1) / (0.009 * arcPerDeg)
    assert(math.abs(ratio - 0.9996) < 2e-4)
  }
}

/**
 * Lambert conformal conic (operators.Lcc, Lambert-93 preset):
 * scalar-instance checks — the Column/SQL instances are the same
 * generic code, and q78 pins them cross-engine.
 */
class LccSpec extends AnyFunSuite {
  import graft.operators.Lcc
  private val P = Lcc.Lambert93

  test("projection origin maps exactly to the false origin (700000, 6600000)") {
    val (e, n) = Lcc.fwdEN(3.0, 46.5, P)(graft.operators.Utm.DblAr)
    assert(math.abs(e - 700000.0) < 1e-6)
    assert(math.abs(n - 6600000.0) < 1e-6)
  }

  test("Paris lands in the published Lambert-93 neighborhood") {
    // central Paris (2.3522 E, 48.8566 N) is ~ (652 km, 6862 km) in
    // EPSG:2154 (IGN published grids); 2 km tolerance guards gross
    // sign/constant errors without depending on an offline proj db
    val (e, n) = Lcc.fwdEN(2.3522, 48.8566, P)(graft.operators.Utm.DblAr)
    assert(math.abs(e - 652000.0) < 2000.0, s"easting $e")
    assert(math.abs(n - 6862000.0) < 2000.0, s"northing $n")
  }

  test("forward/inverse round-trip over the France window: < 1e-9 deg") {
    for (lon <- BigDecimal(-4.5) to BigDecimal(8.5) by 1.3;
         lat <- BigDecimal(41.0) to BigDecimal(51.5) by 1.05) {
      val (e, n) = Lcc.fwdEN(lon.toDouble, lat.toDouble, P)(graft.operators.Utm.DblAr)
      val (lon2, lat2) = Lcc.invLonLat(e, n, P)(graft.operators.Utm.DblAr)
      assert(math.abs(lon2 - lon.toDouble) < 1e-9, s"lon @($lon,$lat)")
      assert(math.abs(lat2 - lat.toDouble) < 1e-9, s"lat @($lon,$lat)")
    }
  }

  test("standard parallels carry unit scale; origin latitude is below it") {
    // along a standard parallel the local E-W scale factor is 1; at the
    // origin latitude (between the parallels) it dips below 1
    def ewScale(latDeg: Double): Double = {
      val (e1, _) = Lcc.fwdEN(2.9, latDeg, P)(graft.operators.Utm.DblAr)
      val (e2, _) = Lcc.fwdEN(3.1, latDeg, P)(graft.operators.Utm.DblAr)
      val rad = math.Pi / 180.0
      val s = math.sin(latDeg * rad)
      // true parallel arc for 0.2 deg of longitude on GRS80
      val nu = P.majorA / math.sqrt(1.0 - P.e2 * s * s)
      (e2 - e1) / (0.2 * rad * nu * math.cos(latDeg * rad))
    }
    assert(math.abs(ewScale(49.0) - 1.0) < 1e-6)
    assert(math.abs(ewScale(44.0) - 1.0) < 1e-6)
    assert(ewScale(46.5) < 1.0 - 1e-4)
  }
}

/**
 * Albers equal-area conic (operators.Albers, EPSG:5070 Conus preset):
 * scalar-instance checks — the Column/SQL instances are the same
 * generic code, and q84 pins them cross-engine.
 */
class AlbersSpec extends AnyFunSuite {
  import graft.operators.{Albers, Utm}
  private val P = Albers.Conus
  private def fwd(lon: Double, lat: Double) = Albers.fwdEN(lon, lat, P)(Utm.DblAr)
  private def inv(e: Double, n: Double) = Albers.invLonLat(e, n, P)(Utm.DblAr)

  test("projection origin (96W, 23N) maps to (0, 0) exactly") {
    val (e, n) = fwd(-96.0, 23.0)
    assert(e === 0.0 && n === 0.0)
  }

  test("Snyder PP1395 worked example (Clarke 1866): published meters") {
    // Snyder's Albers ellipsoid example: Clarke 1866, phi1/phi2 =
    // 29.5/45.5, origin (23N, 96W), point (35N, 75W) -> published
    // x = 1885472.7, y = 1535925.0, rho0 = 9929079.6
    val e2 = 0.00676866 // Snyder's rounded Clarke eccentricity
    val clarke = Albers.Params(23.0, -96.0, 29.5, 45.5, 0.0, 0.0,
      majorA = 6378206.4, invFlat = 1.0 / (1.0 - math.sqrt(1.0 - e2)))
    val (x, y) = Albers.fwdEN(-75.0, 35.0, clarke)(Utm.DblAr)
    assert(math.abs(x - 1885472.7) < 0.1, s"x=$x")
    assert(math.abs(y - 1535925.0) < 0.1, s"y=$y")
    assert(math.abs(clarke.rho0 - 9929079.6) < 0.1)
  }

  test("forward/inverse round-trip over the CONUS window: < 1e-7 deg") {
    // bound is the Snyder 3-18 series truncation (measured worst
    // 1.4e-8 deg ~ 1.5 mm over CONUS), not iteration convergence —
    // the closed form is what keeps the shared expression text bounded
    for (lon <- BigDecimal(-124.0) to BigDecimal(-67.0) by 9.5;
         lat <- BigDecimal(24.0) to BigDecimal(49.0) by 3.125) {
      val (e, n) = fwd(lon.toDouble, lat.toDouble)
      val (lon2, lat2) = inv(e, n)
      assert(math.abs(lon2 - lon.toDouble) < 1e-7, s"lon @($lon,$lat)")
      assert(math.abs(lat2 - lat.toDouble) < 1e-7, s"lat @($lon,$lat)")
    }
  }

  test("equal-area: projected quad area == ellipsoidal area at any lat") {
    // THE defining property (conformal families fail this): the area
    // scale of a small quad is 1 everywhere, not just on the standard
    // parallels. Ellipsoidal ground area element = Rm * Rn * cos(phi).
    val rad = math.Pi / 180.0
    def areaScale(lonDeg: Double, latDeg: Double): Double = {
      val d = 0.01
      val c = Seq((0.0, 0.0), (d, 0.0), (d, d), (0.0, d))
        .map { case (dl, dp) => fwd(lonDeg + dl, latDeg + dp) }
      val shoelace = 0.5 * math.abs(
        (0 until 4).map { i =>
          val (x1, y1) = c(i); val (x2, y2) = c((i + 1) % 4)
          x1 * y2 - x2 * y1
        }.sum)
      val s = math.sin(latDeg * rad)
      val w = 1.0 - P.e2 * s * s
      val rm = P.majorA * (1.0 - P.e2) / (w * math.sqrt(w))
      val rn = P.majorA / math.sqrt(w)
      val ground = rm * rn * math.cos((latDeg + d / 2) * rad) * (d * rad) * (d * rad)
      shoelace / ground
    }
    for (lat <- Seq(25.0, 29.5, 37.0, 45.5, 48.0))
      assert(math.abs(areaScale(-100.0, lat) - 1.0) < 1e-5, s"lat $lat")
  }
}

/**
 * Polar stereographic (operators.PolarStereo, EPSG:3413 preset):
 * scalar-instance checks — the Column/SQL instances are the same
 * generic code, and q82 pins them cross-engine.
 */
class PolarStereoSpec extends AnyFunSuite {
  import graft.operators.{PolarStereo, Utm}
  private val P = PolarStereo.Epsg3413
  private def fwd(lon: Double, lat: Double) = PolarStereo.fwdEN(lon, lat, P)(Utm.DblAr)
  private def inv(e: Double, n: Double) = PolarStereo.invLonLat(e, n, P)(Utm.DblAr)

  test("central meridian maps to E=0 exactly; pole inverse recovers lat 90") {
    val (e, n) = fwd(-45.0, 70.0)
    assert(e === 0.0)
    assert(n < -2000000.0 && n > -2500000.0) // ~2209 km from the pole at 70N
    val (lon0, lat0) = inv(0.0, 0.0)
    assert(lon0 === -45.0 && math.abs(lat0 - 90.0) < 1e-12)
  }

  test("four longitudes land in four quadrants (full-quadrant atan2)") {
    // theta = lon - lon0 (lon0 = -45): offsets of -45/45/135/225 deg put
    // the points in quadrant INTERIORS (multiples of 90 land on axes)
    val pts = Seq(-90.0, 0.0, 90.0, 180.0).map(l => fwd(l, 75.0))
    val quads = pts.map { case (e, n) => (e > 0, n > 0) }.distinct
    assert(quads.size === 4)
    // and each inverse recovers its longitude (all four atan2 branches)
    for (l <- Seq(-90.0, 0.0, 90.0, 180.0)) {
      val (e, n) = fwd(l, 75.0)
      assert(math.abs(inv(e, n)._1 - l) < 1e-9, s"lon $l")
    }
  }

  test("forward/inverse round-trip over the Arctic window: < 1e-9 deg") {
    for (lon <- BigDecimal(-175.0) to BigDecimal(175.0) by 35.0;
         lat <- BigDecimal(70.0) to BigDecimal(89.0) by 2.375) {
      val (e, n) = fwd(lon.toDouble, lat.toDouble)
      val (lon2, lat2) = inv(e, n)
      assert(math.abs(lon2 - lon.toDouble) < 1e-9, s"lon @($lon,$lat)")
      assert(math.abs(lat2 - lat.toDouble) < 1e-9, s"lat @($lon,$lat)")
    }
  }

  test("antimeridian: inverse wraps into (-180, 180]") {
    val (e, n) = fwd(179.5, 75.0)
    val (lon2, lat2) = inv(e, n)
    assert(math.abs(lon2 - 179.5) < 1e-9 && math.abs(lat2 - 75.0) < 1e-9)
    val (e2, n2) = fwd(-179.5, 75.0)
    assert(math.abs(inv(e2, n2)._1 - (-179.5)) < 1e-9)
  }

  test("scale is 1 on the standard parallel, < 1 poleward, > 1 equatorward") {
    def ewScale(latDeg: Double): Double = {
      val (e1, n1) = fwd(-45.1, latDeg); val (e2, n2) = fwd(-44.9, latDeg)
      val rad = math.Pi / 180.0
      val s = math.sin(latDeg * rad)
      val nu = P.majorA / math.sqrt(1.0 - P.e2 * s * s)
      math.hypot(e2 - e1, n2 - n1) / (0.2 * rad * nu * math.cos(latDeg * rad))
    }
    assert(math.abs(ewScale(70.0) - 1.0) < 1e-5)
    // stereographic scale is MINIMUM at the pole: ~(1+sin70)/(1+sin85)
    // = 0.9717 spherical at 85N; grows moving equatorward from 70N
    assert(ewScale(85.0) < 0.98)
    assert(ewScale(60.0) > 1.02)
  }
}
