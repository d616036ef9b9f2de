package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Datum, Epsg, Tmerc, Utm, Warp}

/**
 * Generic-TM kernel + EPSG registry (reference raster.py:1711-1866
 * accepts any pyproj CRS; tests/test_tocrs.py:22-37):
 *  - the projection half is pinned against the PUBLIC worked example in
 *    the OS "A guide to coordinate systems in Great Britain" (Annexe C:
 *    Caister water tower, OSGB36 geodetic -> National Grid) — no proj
 *    database exists offline, so a published constant is the anchor;
 *  - the datum half (ECEF + Helmert + Bowring) is pinned by round-trip
 *    identities and by the known ~100 m OSGB36<->WGS84 separation;
 *  - registry dispatch covers the UTM zone arithmetic, every data row,
 *    and the unknown-code error contract.
 */
class CrsRegistrySpec extends AnyFunSuite {

  // OS guide Annexe C worked example (public document):
  // phi = 52 39' 27.2531" N, lam = 1 43' 4.5177" E (OSGB36)
  // -> E 651409.903, N 313177.270 on the National Grid.
  private val CaisterLat = 52.0 + 39.0 / 60.0 + 27.2531 / 3600.0
  private val CaisterLon = 1.0 + 43.0 / 60.0 + 4.5177 / 3600.0

  test("BNG projection half matches the published OS worked example to 1 mm") {
    val (e, n) = Tmerc.fwdEN(CaisterLon, CaisterLat,
      Tmerc.Osgb36NationalGrid)(Utm.DblAr)
    assert(math.abs(e - 651409.903) < 1e-3, s"easting $e")
    assert(math.abs(n - 313177.270) < 1e-3, s"northing $n")
  }

  test("TM natural origin maps to the false origin exactly") {
    val (e, n) = Tmerc.fwdEN(-2.0, 49.0, Tmerc.Osgb36NationalGrid)(Utm.DblAr)
    assert(math.abs(e - 400000.0) < 1e-6)
    assert(math.abs(n - (-100000.0)) < 1e-6)
    val (e2, n2) = Tmerc.fwdEN(173.0, 0.0, Tmerc.Nztm2000)(Utm.DblAr)
    assert(math.abs(e2 - 1600000.0) < 1e-6)
    assert(math.abs(n2 - 10000000.0) < 1e-6)
  }

  test("UTM zones are TM parameter sets: Utm.params pinned for zones 1..60 N/S") {
    for (z <- 1 to 60; north <- Seq(true, false)) {
      val p = Utm.params(z, north)
      assert(p.ell == Tmerc.WGS84 && p.lat0Deg === 0.0)
      assert(p.lon0Deg === -177.0 + 6.0 * (z - 1), s"zone $z")
      assert(p.k0 === 0.9996 && p.fe === 500000.0)
      assert(p.fn === (if (north) 0.0 else 10000000.0))
      // the natural origin on the equator: the meridian-arc offset is
      // exactly +0.0, so the generic series adds/subtracts a true zero
      assert(java.lang.Double.doubleToLongBits(p.m0) === 0L, s"m0 of zone $z north=$north")
    }
    Seq(0, 61).foreach(z => intercept[IllegalArgumentException](Utm.params(z, north = true)))
  }

  test("EPSG:27700 full chain round-trips E/N across the BNG domain") {
    val crs = Epsg.toLonLat(27700) // (E,N) -> WGS84
    val fwd = crs.inverse
    for (e <- Seq(100000.0, 300000.0, 530000.0, 655000.0);
         n <- Seq(-50000.0, 180000.0, 500000.0, 1000000.0)) {
      val (lon, lat) = crs.toSourcePt(e, n)
      val (e2, n2) = fwd.toSourcePt(lon, lat)
      // Helmert inverse-by-negation error ~ |t|*s + |t|*rot ~ 1 cm
      assert(math.abs(e2 - e) < 2e-2 && math.abs(n2 - n) < 2e-2,
        s"($e,$n) -> ($lon,$lat) -> ($e2,$n2)")
    }
  }

  test("EPSG:27700 datum shift is applied (OSGB36 vs WGS84 ~ 50-150 m)") {
    val withShift = Epsg.fromLonLat(27700)
    val noShift = Epsg.LonLatToTmerc(Tmerc.Osgb36NationalGrid, None, "x")
    val (e1, n1) = withShift.toSourcePt(-0.1276, 51.5074) // London, WGS84
    val (e2, n2) = noShift.toSourcePt(-0.1276, 51.5074)
    val d = math.hypot(e1 - e2, n1 - n2)
    assert(d > 50.0 && d < 150.0, s"datum separation $d m")
  }

  test("EPSG:2193 NZTM2000 round-trips and sits in the published domain") {
    val crs = Epsg.toLonLat(2193)
    // Wellington, WGS84 ~ (174.7762 E, -41.2865 S): NZTM easting is
    // ~1.74-1.76 Mm, northing ~5.42-5.44 Mm (public atlas values)
    val (e, n) = crs.inverse.toSourcePt(174.7762, -41.2865)
    assert(e > 1.70e6 && e < 1.80e6, s"easting $e")
    assert(n > 5.40e6 && n < 5.47e6, s"northing $n")
    val (lon, lat) = crs.toSourcePt(e, n)
    assert(math.abs(lon - 174.7762) < 1e-8 && math.abs(lat + 41.2865) < 1e-8)
  }

  test("registry dispatch: UTM zone arithmetic + data rows + error") {
    assert(Epsg.toLonLat(32631) == Warp.UtmToLonLat(31, north = true))
    assert(Epsg.toLonLat(32733) == Warp.UtmToLonLat(33, north = false))
    assert(Epsg.toLonLat(3857) == Warp.MercatorToLonLat)
    assert(Epsg.toLonLat(4326) == Warp.Identity)
    Seq(2154, 5070, 3413, 27700, 2193).foreach(c => Epsg.toLonLat(c))
    val ex = intercept[IllegalArgumentException](Epsg.toLonLat(99999))
    assert(ex.getMessage.contains("99999"))
  }

  test("Bowring inverse is exact against toEcef round-trip on both ellipsoids") {
    for (ell <- Seq(Tmerc.WGS84, Tmerc.Airy1830);
         (lon, lat) <- Seq((-6.2, 49.9), (1.8, 60.8), (-0.0005, 51.4778),
                           (179.99, -41.0), (-179.99, 70.5))) {
      val (x, y, z) = Datum.toEcef[Double](lon, lat, ell)(Utm.DblAr)
      val (lon2, lat2) = Datum.toGeodetic[Double](x, y, z, ell)(Utm.DblAr)
      assert(math.abs(lon2 - lon) < 1e-11, s"$ell $lon -> $lon2")
      assert(math.abs(lat2 - lat) < 1e-9, s"$ell $lat -> $lat2")
    }
  }

  test("Helmert inverse composes to identity within the |t|*s cross terms") {
    val h = Datum.Osgb36ToWgs84
    val (x, y, z) = (3980000.0, -10000.0, 4970000.0)
    val (x1, y1, z1) = Datum.shift[Double](h, x, y, z)(Utm.DblAr)
    val (x2, y2, z2) = Datum.shift[Double](h.inverse, x1, y1, z1)(Utm.DblAr)
    // negation inverse keeps the |t|*s (~11 mm) and |t|*rot cross terms
    assert(math.abs(x2 - x) < 2e-2 && math.abs(y2 - y) < 2e-2 &&
      math.abs(z2 - z) < 2e-2)
  }

  test("inverse TM round-trips lon/lat over the NZTM domain (antimeridian side)") {
    val p = Tmerc.Nztm2000
    for ((lon, lat) <- Seq((166.5, -46.9), (174.8, -41.3), (178.5, -37.7))) {
      val (e, n) = Tmerc.fwdEN(lon, lat, p)(Utm.DblAr)
      val (lon2, lat2) = Tmerc.invLonLat(e, n, p)(Utm.DblAr)
      // order-n^3 Krueger truncation at 5.5 deg from the central meridian
      assert(math.abs(lon2 - lon) < 1e-8 && math.abs(lat2 - lat) < 1e-8)
    }
  }

  // Out-of-domain inputs through the engine kernel: (lon, lat) probes
  // for the forward transforms, (easting, northing) for the inverses.
  private val NaN = Double.NaN
  private val Inf = Double.PositiveInfinity
  private val lonLatProbes = Seq((NaN, 45.0), (2.0, NaN), (Inf, 45.0), (2.0, -Inf),
    (2.0, 95.0), (2.0, -90.5), (400.0, 45.0), (2.0, 90.0))
  private val meterProbes = Seq((NaN, 5e5), (5e5, NaN), (Inf, 5e5), (5e5, -Inf),
    (1e12, 5e5), (5e5, -1e12))
  private val nan4 = Seq.fill(4)((NaN, NaN))

  test("CrsPoint pins NaN, +-Inf and out-of-domain outputs for every projection family") {
    // Pinned engine outputs. Some non-finite inputs come out FINITE:
    // Utm.DblAr.gt sends a NaN operand to the false branch, where
    // DuckDB's CASE WHEN would take the true branch (see Utm.Ar) — e.g.
    // a NaN easting on EPSG:27700 yields lon 0.0, a NaN northing on
    // EPSG:3413 yields lon 45.0. No fixture query feeds NaN to a
    // projection; this pins what the engine does if a caller does.
    val pinned: Seq[(Warp.CrsTransform, Seq[(Double, Double)], Seq[(Double, Double)])] = Seq(
      (Epsg.fromLonLat(32631), lonLatProbes, nan4 ++ Seq(
        (490269.85774024023, 9439817.32721898), (499025.7381101803, -9942148.808297444),
        (3402392.4145083064, 5695276.670252825), (500000.0, 9997964.943020998))),
      (Epsg.toLonLat(32631), meterProbes, nan4 ++ Seq(
        (NaN, NaN), (3.0, -32.05379997814822))),
      (Epsg.fromLonLat(27700), lonLatProbes, nan4 ++ Seq(
        (361224.59831243195, -1.4966861566610685E7), (396211.85301963135, 4413952.309103336),
        (3683669.2132730577, 390220.14225194417), (400113.8135953266, -1.552374403905491E7))),
      (Epsg.toLonLat(27700), meterProbes, Seq.fill(5)((0.0, NaN)) ++ Seq(
        (-1.0963273991271767, -6.491931208908619))),
      (Epsg.fromLonLat(2193), lonLatProbes, nan4 ++ Seq(
        (1512778.6325705436, 553428.701109862), (1591267.2082448856, 1.9942827565944824E7),
        (-2055828.607871118, 3822983.0652109487), (1600000.0, 2035.0570612289011))),
      (Epsg.toLonLat(2193), meterProbes, nan4 ++ Seq(
        (NaN, NaN), (191.16537130887656, -56.85759299620071))),
      (Epsg.fromLonLat(2154), lonLatProbes, nan4 ++ Seq(
        (NaN, NaN), (NaN, NaN),
        (-5215428.947955476, 1.0726004086325726E7), (700000.0, 1.265561204987599E7))),
      (Epsg.toLonLat(2154), meterProbes, Seq(
        (NaN, NaN), (NaN, NaN), (127.03395378961089, -90.0), (3.0, -90.0),
        (127.03299395181851, -89.99998171041908), (2.9999842077063756, -89.99998171075573))),
      (Epsg.fromLonLat(5070), lonLatProbes, nan4 ++ Seq(
        (3523208.858083407, 7819042.8847336015), (1.4499652419344734E7, 1245735.8070220947),
        (-6542448.443662539, 6296459.252455298), (3468789.6265557716, 7851632.15809594))),
      (Epsg.toLonLat(5070), meterProbes, Seq(
        (NaN, NaN), (NaN, NaN), (53.277801691740905, NaN), (-96.0, NaN),
        (53.27690562968357, NaN), (-95.99995248387172, NaN))),
      (Epsg.fromLonLat(3413), lonLatProbes, nan4 ++ Seq(
        (-396369.3526479964, 369620.40102687554), (-2.0529122266949925E9, 1.91437162190954E9),
        (5112147.993018035, -447254.9956558836), (0.0, 0.0))),
      (Epsg.toLonLat(3413), meterProbes, Seq(
        (NaN, NaN), (45.0, NaN), (45.0, -90.0), (-45.0, -90.0),
        (45.00002864788975, -89.99859648982188), (-44.999971352110244, -89.99859648982188))))
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DoubleType
    import graft.operators.CrsPoint
    val (x, y) = (BoundReference(0, DoubleType, nullable = false),
      BoundReference(1, DoubleType, nullable = false))
    for ((t, probes, want) <- pinned) {
      val p = t.asInstanceOf[Warp.Projection]
      // the transform's Columns are exactly these kernel nodes
      Seq(true -> t.sourceX(col("x"), col("y")), false -> t.sourceY(col("x"), col("y"))).foreach {
        case (takeX, c) => GraftBridge.expression(c) match {
          case CrsPoint(_, _, `p`, `takeX`) =>
          case other => fail(s"$t: not a CrsPoint column: $other")
        }
      }
      val exprs = Seq(CrsPoint(x, y, p, takeX = true), CrsPoint(x, y, p, takeX = false))
      val compiled = UnsafeProjection.create(exprs)
      assert(probes.size === want.size)
      // Double.equals compares bits (NaN == NaN, +0.0 != -0.0)
      def same(a: (Any, Any), w: (Double, Double)) = a._1.equals(w._1) && a._2.equals(w._2)
      for ((in, w) <- probes.zip(want)) {
        val row = InternalRow(in._1, in._2)
        val gen = compiled(row)
        assert(same((gen.getDouble(0), gen.getDouble(1)), w), s"$t $in generated code: pinned $w")
        assert(same((exprs(0).eval(row), exprs(1).eval(row)), w), s"$t $in interpreted: pinned $w")
        assert(same(t.toSourcePt(in._1, in._2), w), s"$t $in scalar twin: pinned $w")
      }
    }
  }
}
