package graft.operators

/**
 * Generic transverse Mercator on an ARBITRARY ellipsoid with arbitrary
 * natural origin / scale / false origin — the long tail of national
 * grids the reference reaches through pyproj `to_crs`
 * (reference raster.py:1711-1866; tests/test_tocrs.py:22-37 accepts any
 * EPSG code): EPSG:27700 British National Grid (Airy 1830), EPSG:2193
 * NZTM2000 (GRS80), the ETRS89/GDA/JGD zone systems, etc. UTM zones
 * are parameter sets of this kernel ([[Utm.params]]).
 *
 * Math: the public Krüger series of order n^3 (Karney 2011, "Transverse
 * Mercator with an accuracy of a few nanometers"; Snyder PP 1395) —
 * sub-centimeter within a UTM zone — with the ellipsoid's third
 * flattening n driving the alpha/beta/delta coefficients, plus the
 * non-zero-latitude natural origin handled by the meridian-arc offset
 * m0 = k0*A*xi(lat0) — a
 * driver-side Double constant interpolated identically into every
 * instance, so northing = fn + k0*A*xi - m0.
 *
 * ORACLE DISCIPLINE: written once over [[Utm.Ar]] and instantiated as
 * Doubles (the engine's [[CrsPoint]] kernel and grid derivation) and
 * SQL text (DuckDB twin) — identical IEEE op order by construction.
 */
object Tmerc {
  import Utm.Ar

  /** Reference ellipsoid: semi-major axis (m) + inverse flattening.
    * All Krüger/arc coefficients are driver doubles computed once. */
  final case class Ellipsoid(name: String, a: Double, invf: Double) {
    val f: Double = 1.0 / invf
    /** first eccentricity squared e^2 = f (2 - f) */
    val e2: Double = f * (2.0 - f)
    val e: Double = math.sqrt(e2)
    /** semi-minor axis */
    val b: Double = a * (1.0 - f)
    /** second eccentricity squared e'^2 = e^2 / (1 - e^2) */
    val ep2: Double = e2 / (1.0 - e2)
    /** third flattening n = f / (2 - f) */
    val n: Double = f / (2.0 - f)
    /** rectifying radius A = a/(1+n) (1 + n^2/4 + n^4/64) */
    val rectA: Double =
      a / (1.0 + n) * (1.0 + n * n / 4.0 + n * n * n * n / 64.0)
    val alpha: Array[Double] = Array(
      n / 2.0 - 2.0 / 3.0 * n * n + 5.0 / 16.0 * n * n * n,
      13.0 / 48.0 * n * n - 3.0 / 5.0 * n * n * n,
      61.0 / 240.0 * n * n * n)
    val beta: Array[Double] = Array(
      n / 2.0 - 2.0 / 3.0 * n * n + 37.0 / 96.0 * n * n * n,
      1.0 / 48.0 * n * n + 1.0 / 15.0 * n * n * n,
      17.0 / 480.0 * n * n * n)
    val delta: Array[Double] = Array(
      2.0 * n - 2.0 / 3.0 * n * n - 2.0 * n * n * n,
      7.0 / 3.0 * n * n - 8.0 / 5.0 * n * n * n,
      56.0 / 15.0 * n * n * n)
    val c1: Double = 2.0 * math.sqrt(n) / (1.0 + n)
  }

  val WGS84: Ellipsoid = Ellipsoid("WGS84", 6378137.0, 298.257223563)
  val GRS80: Ellipsoid = Ellipsoid("GRS80", 6378137.0, 298.257222101)
  /** Airy 1830 — the OSGB36 ellipsoid (EPSG:7001). */
  val Airy1830: Ellipsoid = Ellipsoid("Airy1830", 6377563.396, 299.3249646)

  private val DegPerRad = 180.0 / math.Pi
  private val RadPerDeg = math.Pi / 180.0

  /** One projected TM CRS: ellipsoid + natural origin (lat0, lon0) +
    * scale at origin k0 + false easting/northing. */
  final case class Params(ell: Ellipsoid, lat0Deg: Double, lon0Deg: Double,
                          k0: Double, fe: Double, fn: Double) {
    val k0A: Double = k0 * ell.rectA
    /** Scaled meridian arc at the natural origin, m0 = k0*A*xi(lat0):
      * the forward at (lon0, lat0) has etaP = 0, xiP = atan(t), so this
      * is an exact scalar replay of the series' central-meridian cut. */
    val m0: Double = {
      val phi = lat0Deg * RadPerDeg
      val s = math.sin(phi)
      def atanh(z: Double) = 0.5 * math.log((1.0 + z) / (1.0 - z))
      val t = math.sinh(atanh(s) - ell.c1 * atanh(ell.c1 * s))
      val xiP = math.atan(t)
      val xi = xiP + (1 to 3).map(j =>
        ell.alpha(j - 1) * math.sin(2.0 * j * xiP) * math.cosh(0.0)).sum
      k0A * xi
    }
  }

  /** EPSG:27700 British National Grid (projection half — the OSGB36
    * datum shift is [[Datum.Osgb36ToWgs84]]). */
  val Osgb36NationalGrid: Params = Params(
    Airy1830, lat0Deg = 49.0, lon0Deg = -2.0,
    k0 = 0.9996012717, fe = 400000.0, fn = -100000.0)

  /** EPSG:2193 NZTM2000 (NZGD2000 = GRS80, no datum shift vs WGS84). */
  val Nztm2000: Params = Params(
    GRS80, lat0Deg = 0.0, lon0Deg = 173.0,
    k0 = 0.9996, fe = 1600000.0, fn = 10000000.0)

  // -- composite functions over proven-bit-identical primitives ---------
  private def sinhF[T](u: T)(implicit F: Ar[T]): T =
    F.mul(F.sub(F.exp(u), F.exp(F.neg(u))), F.lit(0.5))
  private def coshF[T](u: T)(implicit F: Ar[T]): T =
    F.mul(F.add(F.exp(u), F.exp(F.neg(u))), F.lit(0.5))
  private def atanhF[T](z: T)(implicit F: Ar[T]): T =
    F.mul(F.lit(0.5), F.ln(F.div(F.add(F.lit(1.0), z), F.sub(F.lit(1.0), z))))
  private def asinF[T](z: T)(implicit F: Ar[T]): T =
    F.atan(F.div(z, F.sqrt(F.mul(F.sub(F.lit(1.0), z), F.add(F.lit(1.0), z)))))

  /** Inverse TM: projected (easting, northing) meters -> (lon, lat)
    * degrees on the CRS's own datum. */
  def invLonLat[T](e: T, nth: T, p: Params)(implicit F: Ar[T]): (T, T) = {
    def two(j: Int, v: T): T = F.mul(F.lit(2.0 * j), v)
    def series(coef: Array[Double], f: (T, T) => T, a: T, b: T): T =
      (1 to 3).map(j => F.mul(F.lit(coef(j - 1)), f(two(j, a), two(j, b)))).reduce(F.add)
    val xi = F.div(F.add(F.sub(nth, F.lit(p.fn)), F.lit(p.m0)), F.lit(p.k0A))
    val eta = F.div(F.sub(e, F.lit(p.fe)), F.lit(p.k0A))
    val xiP = F.sub(xi, series(p.ell.beta, (x, y) => F.mul(F.sin(x), coshF(y)), xi, eta))
    val etaP = F.sub(eta, series(p.ell.beta, (x, y) => F.mul(F.cos(x), sinhF(y)), xi, eta))
    val chi = asinF(F.div(F.sin(xiP), coshF(etaP)))
    val phi = F.add(chi,
      (1 to 3).map(j => F.mul(F.lit(p.ell.delta(j - 1)), F.sin(two(j, chi)))).reduce(F.add))
    val lam = F.atan(F.div(sinhF(etaP), F.cos(xiP)))
    (F.add(F.lit(p.lon0Deg), F.mul(lam, F.lit(DegPerRad))),
      F.mul(phi, F.lit(DegPerRad)))
  }

  /** Forward TM: (lon, lat) degrees on the CRS's datum -> projected
    * (easting, northing) meters. */
  def fwdEN[T](lon: T, lat: T, p: Params)(implicit F: Ar[T]): (T, T) = {
    def two(j: Int, v: T): T = F.mul(F.lit(2.0 * j), v)
    def series(f: (T, T) => T, a: T, b: T): T =
      (1 to 3).map(j => F.mul(F.lit(p.ell.alpha(j - 1)), f(two(j, a), two(j, b)))).reduce(F.add)
    val lamP = F.mul(F.sub(lon, F.lit(p.lon0Deg)), F.lit(RadPerDeg))
    val phi = F.mul(lat, F.lit(RadPerDeg))
    val s = F.sin(phi)
    val t = sinhF(F.sub(atanhF(s), F.mul(F.lit(p.ell.c1), atanhF(F.mul(F.lit(p.ell.c1), s)))))
    val xiP = F.atan(F.div(t, F.cos(lamP)))
    val etaP = atanhF(F.div(F.sin(lamP), F.sqrt(F.add(F.lit(1.0), F.mul(t, t)))))
    val xi = F.add(xiP, series((x, y) => F.mul(F.sin(x), coshF(y)), xiP, etaP))
    val eta = F.add(etaP, series((x, y) => F.mul(F.cos(x), sinhF(y)), xiP, etaP))
    (F.add(F.lit(p.fe), F.mul(F.lit(p.k0A), eta)),
      F.sub(F.add(F.lit(p.fn), F.mul(F.lit(p.k0A), xi)), F.lit(p.m0)))
  }
}
