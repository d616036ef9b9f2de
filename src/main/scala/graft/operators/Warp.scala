package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.GridMeta
import graft.functions._

/**
 * to_crs re-gridding (reference raster.py:1711-1866): inverse-warp as a
 * join — generate the TARGET grid, map each target pixel center back to
 * source-world coordinates through a pluggable CRS transform, take the
 * NEAREST source pixel (floor rowcol, the reference default resampling,
 * tests/test_tocrs.py), and left-join the source stack.
 *
 * CRS math is pluggable ([[CrsTransform]]); the fixture transform is
 * affine (a linear pseudo-CRS), which keeps the oracle SQL-expressible.
 * Real geodetic transforms slot in as additional CrsTransforms without
 * touching the join shape.
 */
object Warp {

  /**
   * Maps TARGET-world (x, y) columns to SOURCE-world coordinates (the
   * inverse-warp direction every interpolating kernel consumes).
   *
   * Each transform also carries its own [[inverse]] (source -> target)
   * — [[toCrs]] picks the right direction per kernel, so a caller
   * switching the resampling string from "bilinear" to "average" never
   * has to flip the transform by hand (the round-3 direction hazard) —
   * and a driver-side scalar twin [[toSourcePt]] used by
   * [[defaultTarget]]'s bounds projection.
   */
  trait CrsTransform extends Serializable {
    def sourceX(x: Column, y: Column): Column
    def sourceY(x: Column, y: Column): Column
    /** The opposite direction (source -> target). */
    def inverse: CrsTransform
    /** Scalar twin of sourceX/sourceY (driver-side grid derivation). */
    def toSourcePt(x: Double, y: Double): (Double, Double)
  }

  /**
   * A closed-form projection (UTM, generic TM ± datum shift, LCC,
   * Albers, polar stereographic, each direction): the series is written
   * ONCE, as [[project]] over the [[Utm.Ar]] arithmetic typeclass, and
   * every view derives from it —
   *  - the engine Columns are one opaque [[CrsPoint]] node each, which
   *    evaluates the [[Utm.DblAr]] instance;
   *  - the driver-side [[toSourcePt]] is that same instance;
   *  - the DuckDB twin text ([[sxSql]]/[[sySql]]) is the [[Utm.SqlAr]]
   *    instance, so engine and oracle share IEEE op order by
   *    construction.
   */
  sealed trait Projection extends CrsTransform {
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T)
    final override def sourceX(x: Column, y: Column): Column = crsCol(x, y, takeX = true)
    final override def sourceY(x: Column, y: Column): Column = crsCol(x, y, takeX = false)
    final override def toSourcePt(x: Double, y: Double): (Double, Double) =
      project(x, y)(Utm.DblAr)
    def sxSql(x: String, y: String): String = sqlTwin(x, y)._1
    def sySql(x: String, y: String): String = sqlTwin(x, y)._2
    protected def sqlTwin(x: String, y: String): (String, String) = project(x, y)(Utm.SqlAr)
    private def crsCol(x: Column, y: Column, takeX: Boolean): Column = {
      import org.apache.spark.sql.GraftBridge
      GraftBridge.column(CrsPoint(GraftBridge.expression(x), GraftBridge.expression(y), this, takeX))
    }
  }

  /** Affine pseudo-CRS: sx = a*x + b*y + c, sy = d*x + e*y + f. */
  final case class AffineCrs(a: Double, b: Double, c: Double,
                             d: Double, e: Double, f: Double) extends CrsTransform {
    override def sourceX(x: Column, y: Column): Column = lit(a) * x + lit(b) * y + lit(c)
    override def sourceY(x: Column, y: Column): Column = lit(d) * x + lit(e) * y + lit(f)
    override def toSourcePt(x: Double, y: Double): (Double, Double) =
      (a * x + b * y + c, d * x + e * y + f)
    /** Closed-form matrix inverse: t = M^-1 s - M^-1 (c, f). */
    override def inverse: AffineCrs = {
      val det = a * e - b * d
      require(det != 0.0, "singular affine transform has no inverse")
      AffineCrs(e / det, -b / det, (b * f - e * c) / det,
        -d / det, a / det, (d * c - a * f) / det)
    }
    def sxSql(x: String, y: String): String = {
      import graft.sources.OracleLit.d2
      s"(${d2(a)} * $x + ${d2(b)} * $y + ${d2(c)})"
    }
    def sySql(x: String, y: String): String = {
      import graft.sources.OracleLit.d2
      s"(${d2(d)} * $x + ${d2(e)} * $y + ${d2(f)})"
    }
  }

  /** Identity (same CRS, new grid) — pure resample. */
  case object Identity extends CrsTransform {
    override def sourceX(x: Column, y: Column): Column = x
    override def sourceY(x: Column, y: Column): Column = y
    override def inverse: CrsTransform = this
    override def toSourcePt(x: Double, y: Double): (Double, Double) = (x, y)
  }

  /** Spherical-mercator radius (EPSG:3857), meters. */
  val MercR = 6378137.0
  private val DegPerRad = 180.0 / math.Pi
  private val HalfPi = math.Pi / 2.0

  /**
   * EPSG:3857 -> EPSG:4326: target world coordinates in Web-Mercator
   * METERS map back to source lon/lat DEGREES — the real geodetic
   * reprojection surface of the reference's to_crs
   * (raster.py:1711-1866; tests/test_tocrs.py:22-37 reprojects between
   * real CRSs). Closed-form public spherical-mercator math:
   *   lon = (x / R) * 180/pi
   *   lat = (2*atan(exp(y / R)) - pi/2) * 180/pi
   * Operation ORDER is fixed and mirrored literally by the SQL twins so
   * the only cross-engine risk is libm's last ulp (which the downstream
   * floor-to-pixel arithmetic absorbs except on exact cell boundaries).
   */
  case object MercatorToLonLat extends CrsTransform {
    override def sourceX(x: Column, y: Column): Column =
      (x / lit(MercR)) * lit(DegPerRad)
    override def sourceY(x: Column, y: Column): Column =
      (lit(2.0) * atan(exp(y / lit(MercR))) - lit(HalfPi)) * lit(DegPerRad)
    override def inverse: CrsTransform = LonLatToMercator
    override def toSourcePt(x: Double, y: Double): (Double, Double) =
      ((x / MercR) * DegPerRad,
        (2.0 * math.atan(math.exp(y / MercR)) - HalfPi) * DegPerRad)
    def sxSql(x: String, y: String): String = {
      import graft.sources.OracleLit.d
      s"(($x / ${d(MercR)}) * ${d(DegPerRad)})"
    }
    def sySql(x: String, y: String): String = {
      import graft.sources.OracleLit.d
      s"((2.0 * ATAN(EXP($y / ${d(MercR)})) - ${d(HalfPi)}) * ${d(DegPerRad)})"
    }
  }

  /**
   * EPSG:4326 -> EPSG:3857 (forward mercator): lon/lat DEGREES to
   * mercator METERS — the srcToTarget direction for [[average]]-style
   * forward pooling onto a mercator grid. Latitudes are clamped to the
   * mercator domain (±85.051128...) exactly like proj's web-mercator.
   *   x = lon * (R*pi/180)
   *   y = R * ln(tan(pi/4 + lat*(pi/360)))
   */
  case object LonLatToMercator extends CrsTransform {
    private val XScale = MercR * math.Pi / 180.0
    private val RadPerHalfDeg = math.Pi / 360.0
    private val QuarterPi = math.Pi / 4.0
    val MaxLat = 85.05112877980659
    override def sourceX(x: Column, y: Column): Column = x * lit(XScale)
    override def sourceY(x: Column, y: Column): Column = {
      val latC = least(greatest(y, lit(-MaxLat)), lit(MaxLat))
      lit(MercR) * log(tan(lit(QuarterPi) + latC * lit(RadPerHalfDeg)))
    }
    override def inverse: CrsTransform = MercatorToLonLat
    override def toSourcePt(x: Double, y: Double): (Double, Double) = {
      val latC = math.min(math.max(y, -MaxLat), MaxLat)
      (x * XScale, MercR * math.log(math.tan(QuarterPi + latC * RadPerHalfDeg)))
    }
    def sxSql(x: String, y: String): String = {
      import graft.sources.OracleLit.d
      s"($x * ${d(XScale)})"
    }
    def sySql(x: String, y: String): String = {
      import graft.sources.OracleLit.d
      val latC = s"LEAST(GREATEST($y, ${d(-MaxLat)}), ${d(MaxLat)})"
      s"(${d(MercR)} * LN(TAN(${d(QuarterPi)} + $latC * ${d(RadPerHalfDeg)})))"
    }
  }

  /**
   * UTM zone CRS (EPSG:326xx / 327xx), target->source direction: target
   * world coordinates in UTM METERS back-project to source lon/lat
   * DEGREES through the inverse Krüger series of the zone's TM
   * parameters ([[Utm.params]]) — the reference's most common real
   * projected `to_crs` targets (raster.py:1711-1866 via pyproj;
   * tests/test_tocrs.py:22-37).
   */
  final case class UtmToLonLat(zone: Int, north: Boolean) extends Projection {
    private val p = Utm.params(zone, north)
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T) = Tmerc.invLonLat(x, y, p)
    override def inverse: CrsTransform = LonLatToUtm(zone, north)
    /** EPSG name: 326xx north, 327xx south. */
    def epsg: String = f"EPSG:${if (north) 32600 + zone else 32700 + zone}%d"
  }

  /** Forward UTM (lon/lat degrees -> zone meters) — srcToTarget for the
    * pooling kernels and the defaultTarget bounds projection. */
  final case class LonLatToUtm(zone: Int, north: Boolean) extends Projection {
    private val p = Utm.params(zone, north)
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T) = Tmerc.fwdEN(x, y, p)
    override def inverse: CrsTransform = UtmToLonLat(zone, north)
  }

  /**
   * Generic-TM CRS (possibly on a legacy datum — the EPSG registry's
   * [[Epsg.TM]] rows), target->source: projected (easting, northing)
   * meters -> WGS84 lon/lat degrees. Chain: inverse Krüger on the CRS
   * ellipsoid -> geodetic datum hop (ECEF + Helmert + Bowring) when the
   * datum isn't WGS84-equivalent.
   */
  final case class TmercToLonLat(p: Tmerc.Params, toWgs84: Option[Datum.Helmert],
                                 epsg: String) extends Projection {
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T) = {
      val (lonD, latD) = Tmerc.invLonLat(x, y, p)
      toWgs84 match {
        case None => (lonD, latD)
        case Some(h) => Datum.geodeticShift(lonD, latD, p.ell, h, Tmerc.WGS84)
      }
    }
    override def inverse: CrsTransform = LonLatToTmerc(p, toWgs84, epsg)
    /** Single-expression SQL twin — only valid without a datum shift
      * (the shifted chain must go through [[stagedSql]]). */
    override protected def sqlTwin(x: String, y: String): (String, String) = {
      require(toWgs84.isEmpty, "use stagedSql for datum-shifted TM")
      super.sqlTwin(x, y)
    }

    /**
     * Staged SQL twin for the DuckDB oracle: the composed datum-shifted
     * text explodes combinatorially (5.3 MB vs 4 KB per stage), so the
     * oracle materializes the chain at its four function boundaries as
     * nested SELECTs. Wraps subquery `inner` (which must SELECT `tx`,
     * `ty` plus the `pass` columns); a stage boundary stores a double,
     * which reloads exactly, so engine and oracle share IEEE op order by
     * construction.
     */
    def stagedSql(inner: String, tx: String, ty: String, pass: Seq[String],
                  outX: String, outY: String): String = {
      implicit val F: Utm.Ar[String] = Utm.SqlAr
      val pl = pass.mkString(", ")
      val (lonD, latD) = Tmerc.invLonLat(tx, ty, p)
      val s1 = s"SELECT $pl, $lonD AS lond, $latD AS latd FROM ($inner)"
      toWgs84 match {
        case None =>
          s"SELECT $pl, lond AS $outX, latd AS $outY FROM ($s1)"
        case Some(h) =>
          val (gx, gy, gz) = Datum.toEcef("lond", "latd", p.ell)
          val s2 = s"SELECT $pl, $gx AS gx, $gy AS gy, $gz AS gz FROM ($s1)"
          val (hx, hy, hz) = Datum.shift(h, "gx", "gy", "gz")
          val s3 = s"SELECT $pl, $hx AS hx, $hy AS hy, $hz AS hz FROM ($s2)"
          val (lon, lat) = Datum.toGeodetic("hx", "hy", "hz", Tmerc.WGS84)
          s"SELECT $pl, $lon AS $outX, $lat AS $outY FROM ($s3)"
      }
    }
  }

  /** Forward generic TM: WGS84 lon/lat degrees -> projected (easting,
    * northing) meters (datum hop first, then the forward Krüger). */
  final case class LonLatToTmerc(p: Tmerc.Params, toWgs84: Option[Datum.Helmert],
                                 epsg: String) extends Projection {
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T) = {
      val (lonD, latD) = toWgs84 match {
        case None => (x, y)
        case Some(h) => Datum.geodeticShift(x, y, Tmerc.WGS84, h.inverse, p.ell)
      }
      Tmerc.fwdEN(lonD, latD, p)
    }
    override def inverse: CrsTransform = TmercToLonLat(p, toWgs84, epsg)
    /** Single-expression SQL twin — only valid without a datum shift. */
    override protected def sqlTwin(x: String, y: String): (String, String) = {
      require(toWgs84.isEmpty, "use stagedSql for datum-shifted TM")
      super.sqlTwin(x, y)
    }
    /** Staged SQL twin (datum-shifted forward), nested-SELECT form. */
    def stagedSql(inner: String, lonC: String, latC: String, pass: Seq[String],
                  outX: String, outY: String): String = {
      implicit val F: Utm.Ar[String] = Utm.SqlAr
      val pl = pass.mkString(", ")
      toWgs84 match {
        case None =>
          s"SELECT $pl, ${sxSql(lonC, latC)} AS $outX, ${sySql(lonC, latC)} AS $outY FROM ($inner)"
        case Some(h) =>
          val (gx, gy, gz) = Datum.toEcef(lonC, latC, Tmerc.WGS84)
          val s1 = s"SELECT $pl, $gx AS gx, $gy AS gy, $gz AS gz FROM ($inner)"
          val (hx, hy, hz) = Datum.shift(h.inverse, "gx", "gy", "gz")
          val s2 = s"SELECT $pl, $hx AS hx, $hy AS hy, $hz AS hz FROM ($s1)"
          val (lonD, latD) = Datum.toGeodetic("hx", "hy", "hz", p.ell)
          val s3 = s"SELECT $pl, $lonD AS lond, $latD AS latd FROM ($s2)"
          val (e, n) = Tmerc.fwdEN("lond", "latd", p)
          s"SELECT $pl, $e AS $outX, $n AS $outY FROM ($s3)"
      }
    }
  }

  /**
   * Lambert-conformal-conic CRS (e.g. RGF93 / Lambert-93 EPSG:2154,
   * US State Plane), target->source direction: target world coordinates
   * in LCC METERS back-project to source lon/lat DEGREES through the
   * closed-form Snyder inverse ([[Lcc.invLonLat]]) — with UTM this
   * covers the two projected families behind nearly every national
   * grid the reference's `to_crs` reaches via pyproj
   * (raster.py:1711-1866).
   */
  final case class LccToLonLat(p: Lcc.Params, epsg: String) extends Projection {
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T) = Lcc.invLonLat(x, y, p)
    override def inverse: CrsTransform = LonLatToLcc(p, epsg)
  }

  /** Forward LCC (lon/lat degrees -> conic meters) — srcToTarget for
    * the pooling kernels and the defaultTarget bounds projection. */
  final case class LonLatToLcc(p: Lcc.Params, epsg: String) extends Projection {
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T) = Lcc.fwdEN(x, y, p)
    override def inverse: CrsTransform = LccToLonLat(p, epsg)
  }

  /**
   * Albers equal-area conic CRS (e.g. NAD83 / Conus Albers EPSG:5070,
   * the USGS/NLCD grid), target->source: target Albers METERS
   * back-project to lon/lat through the Snyder inverse
   * ([[Albers.invLonLat]]) — the EQUAL-AREA family, complementing the
   * conformal UTM/LCC/polar-stereo trio (area-true pixels are what
   * pixel-count -> hectare aggregations assume).
   */
  final case class AlbersToLonLat(p: Albers.Params, epsg: String) extends Projection {
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T) = Albers.invLonLat(x, y, p)
    override def inverse: CrsTransform = LonLatToAlbers(p, epsg)
  }

  /** Forward Albers (lon/lat degrees -> equal-area conic meters) —
    * srcToTarget for pooling and defaultTarget bounds projection. */
  final case class LonLatToAlbers(p: Albers.Params, epsg: String) extends Projection {
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T) = Albers.fwdEN(x, y, p)
    override def inverse: CrsTransform = AlbersToLonLat(p, epsg)
  }

  /**
   * Polar-stereographic CRS (e.g. NSIDC EPSG:3413), target->source:
   * target meters back-project to lon/lat through the Snyder inverse
   * with the composed full-quadrant atan2 ([[PolarStereo.invLonLat]])
   * — the polar-grid family, completing UTM + LCC.
   */
  final case class PsToLonLat(p: PolarStereo.Params, epsg: String) extends Projection {
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T) = PolarStereo.invLonLat(x, y, p)
    override def inverse: CrsTransform = LonLatToPs(p, epsg)
  }

  /** Forward polar stereographic (lon/lat degrees -> polar meters) —
    * srcToTarget for pooling and defaultTarget bounds projection. */
  final case class LonLatToPs(p: PolarStereo.Params, epsg: String) extends Projection {
    def project[T](x: T, y: T)(implicit F: Utm.Ar[T]): (T, T) = PolarStereo.fwdEN(x, y, p)
    override def inverse: CrsTransform = PsToLonLat(p, epsg)
  }

  /**
   * Nearest-neighbor warp of `stack` onto `target`. Returns a Stack on
   * the target grid. The join is a plain equi-join on source (row, col)
   * — shuffle-free probe side when the source stack is bucketed by tile.
   */
  /**
   * Bilinear warp (raster.py:1711-1866 exposes rasterio's resamplers;
   * nearest stays the default — q23). Each target pixel samples the 4
   * source pixel CENTERS around its back-projected position; the output
   * is the fixed-order weighted sum, NULL when any contributing neighbor
   * is missing or masked (edge pixels and nodata holes propagate — the
   * engine's nodata rule for interpolating resamplers).
   *
   * Physical shape: explode the 4 corner keys per target pixel (tags
   * 0..3), ONE left-outer equi-join against the source stack, then a
   * conditional-aggregation gather back to one row per target pixel —
   * the source is scanned once (vs. 4 separate corner joins), and both
   * shuffles are plain hash partitionings that tile-bucketed storage
   * co-locates.
   */
  def bilinear(stack: Stack, target: GridMeta, crs: CrsTransform): Stack = {
    val m = stack.meta
    val spark = stack.df.sparkSession
    val tgt = graft.sources.RasterStack.grid(spark, target)
      .withColumn("__tx", grid_x(col("row"), col("col"), target))
      .withColumn("__ty", grid_y(col("row"), col("col"), target))
      .withColumn("__sx", crs.sourceX(col("__tx"), col("__ty")))
      .withColumn("__sy", crs.sourceY(col("__tx"), col("__ty")))
      .withColumn("__gx", grid_colf(col("__sx"), col("__sy"), m))
      .withColumn("__gy", grid_rowf(col("__sx"), col("__sy"), m))
      .withColumn("__c0", floor(col("__gx")).cast("long"))
      .withColumn("__r0", floor(col("__gy")).cast("long"))
      .withColumn("__wx", col("__gx") - col("__c0").cast("double"))
      .withColumn("__wy", col("__gy") - col("__r0").cast("double"))
    val exploded = tgt
      .withColumn("__tag", explode(array((0 to 3).map(t => lit(t)): _*)))
      .withColumn("__srow", col("__r0") + idiv(col("__tag").cast("long"), lit(2L)))
      .withColumn("__scol", col("__c0") + col("__tag").cast("long") % lit(2L))
    val src = stack.df.select(
      (Seq(col("row").as("__srow"), col("col").as("__scol")) ++ stack.layers.map(col)): _*)
    val joined = exploded.join(src, Seq("__srow", "__scol"), "left_outer")
    val gathers = stack.layers.flatMap(n => (0 to 3).map(t =>
      max(when(col("__tag") === t, col(n))).as(s"__${n}_$t")))
    val agg = joined.groupBy(col("row"), col("col"), col("__wx"), col("__wy"))
      .agg(gathers.head, gathers.tail: _*)
    val out = stack.layers.foldLeft(agg) { (d, n) =>
      val v = (0 to 3).map(t => col(s"__${n}_$t"))
      val anyNull = v.map(_.isNull).reduce(_ || _)
      val wx = col("__wx"); val wy = col("__wy")
      val interp = (lit(1.0) - wy) * ((lit(1.0) - wx) * v(0) + wx * v(1)) +
        wy * ((lit(1.0) - wx) * v(2) + wx * v(3))
      d.withColumn(n, when(anyNull, lit(null)).otherwise(interp).cast("double"))
    }
    Stack(out.select((Seq("row", "col") ++ stack.layers).map(col): _*), target, stack.layers)
  }

  /**
   * Average-resampling warp (rasterio Resampling.average): every SOURCE
   * pixel center forward-projects onto the target grid (`srcToTarget`)
   * and pools into the target pixel it lands in; output = sum/count per
   * target pixel, null where no valid source pixel landed. ONE hash-agg
   * shuffle keyed by target (row, col) with map-side partial aggregation
   * — the general-downscale path Stack.aggregate covers only for nested
   * integer factors.
   *
   * Exactness: integral band values make the partial sums exact in any
   * combine order; the single final division is then bit-reproducible
   * (the engine-wide oracle rule for averages).
   */
  def average(stack: Stack, target: GridMeta, srcToTarget: CrsTransform): Stack = {
    val spark = stack.df.sparkSession
    val proj = forwardProject(stack, target, srcToTarget)
    val aggs = stack.layers.flatMap(n =>
      Seq(sum(col(n)).as(s"__s_$n"), count(col(n)).as(s"__c_$n")))
    val pooled = proj.groupBy(col("__trow").as("row"), col("__tcol").as("col"))
      .agg(aggs.head, aggs.tail: _*)
    val tgt = graft.sources.RasterStack.grid(spark, target)
    val out = stack.layers.foldLeft(tgt.join(pooled, Seq("row", "col"), "left_outer")) { (d, n) =>
      d.withColumn(n, when(col(s"__c_$n") > 0, col(s"__s_$n") / col(s"__c_$n")))
    }
    Stack(out.select((Seq("row", "col") ++ stack.layers).map(col): _*), target, stack.layers)
  }

  /**
   * Cubic-convolution weight (Keys kernel, a = -0.5 — the GDAL/rasterio
   * `Resampling.cubic` kernel) for neighbor offset `i` ∈ 0..3 (source
   * offsets -1, 0, +1, +2) given the fractional position `w` ∈ [0,1),
   * as a SQL TEXT expression. The SAME text is parsed by Spark's `expr`
   * and by the DuckDB oracle, so the IEEE evaluation order is identical
   * by construction (all literals are exact in decimal -> double).
   */
  private[graft] def cubicW(i: Int, w: String): String = i match {
    // |t| <= 1:  1.5 t^3 - 2.5 t^2 + 1        with t = w (i=1), 1-w (i=2)
    // 1 < |t| < 2: -0.5 t^3 + 2.5 t^2 - 4 t + 2 with t = 1+w (i=0), 2-w (i=3)
    case 0 => s"((-0.5) * ((1.0 + $w) * (1.0 + $w) * (1.0 + $w)) + 2.5 * ((1.0 + $w) * (1.0 + $w)) - 4.0 * (1.0 + $w) + 2.0)"
    case 1 => s"(1.5 * ($w * $w * $w) - 2.5 * ($w * $w) + 1.0)"
    case 2 => s"(1.5 * ((1.0 - $w) * (1.0 - $w) * (1.0 - $w)) - 2.5 * ((1.0 - $w) * (1.0 - $w)) + 1.0)"
    case 3 => s"((-0.5) * ((2.0 - $w) * (2.0 - $w) * (2.0 - $w)) + 2.5 * ((2.0 - $w) * (2.0 - $w)) - 4.0 * (2.0 - $w) + 2.0)"
  }

  /**
   * Cubic-convolution warp (rasterio Resampling.cubic, Keys a = -0.5):
   * each target pixel gathers the 4x4 source pixel CENTERS around its
   * back-projected position; output = separable row/column weighted sum
   * in fixed left-associative order, NULL when any of the 16
   * contributing neighbors is missing or masked (the engine's nodata
   * rule for interpolating resamplers, same as [[bilinear]]).
   *
   * Physical shape = bilinear's with 16 tags: explode the corner keys,
   * ONE left-outer equi-join against the source stack, conditional-agg
   * gather back to one row per target pixel — the source scans once and
   * both shuffles are plain hash partitionings.
   */
  def cubic(stack: Stack, target: GridMeta, crs: CrsTransform): Stack =
    separableGather(stack, target, crs, taps = 4, off = 1, cubicW, normalize = false)

  /**
   * Lanczos-3 weight for tap i ∈ 0..5 (source offsets -2..+3) at
   * fractional position `w` ∈ [0,1): t = w - offset, L(0) = 1, else
   * L(t) = 3 sin(pi t) sin(pi t / 3) / (pi^2 t^2) for |t| < 3 — the
   * rasterio/GDAL Resampling.lanczos windowed sinc. SQL TEXT shared
   * between Spark `expr` and the oracle like [[cubicW]]; the only
   * cross-engine risk is libm SIN's last ulp (measured: ~0.2% of inputs
   * differ by 1 ulp between the JVM and libm), which the lanczos oracle
   * absorbs by quantizing OUTPUTS (FLOOR(x*1e3)) instead of comparing
   * raw doubles.
   */
  private[graft] def lanczosW(i: Int, w: String): String = {
    val o = i - 2
    val t = if (o == 0) w else if (o < 0) s"($w + ${-o}.0)" else s"($w - $o.0)"
    s"(CASE WHEN $t = 0.0 THEN 1.0 ELSE " +
      s"(3.0 * SIN(PI() * $t) * SIN(PI() * $t / 3.0)) / ((PI() * PI()) * ($t * $t)) END)"
  }

  /** Lanczos-3 warp: 6x6 gather, weight-sum normalized (GDAL semantics). */
  def lanczos(stack: Stack, target: GridMeta, crs: CrsTransform): Stack =
    separableGather(stack, target, crs, taps = 6, off = 2, lanczosW, normalize = true)

  /**
   * Cubic B-spline weight (rasterio/GDAL `Resampling.cubic_spline` —
   * the SMOOTHING cubic: the uniform B3 basis applied directly, no
   * interpolation prefilter, matching GDAL's resampler) for tap
   * i ∈ 0..3 at fractional position `w` ∈ [0,1):
   *   |t| < 1:  (4 - 6 t^2 + 3 |t|^3) / 6
   *   1 <= |t| < 2:  (2 - |t|)^3 / 6
   * B-spline bases partition unity, so no normalization is needed.
   * SQL TEXT shared between Spark `expr` and the oracle like [[cubicW]]
   * (pure +,*,/ arithmetic — bit-exact cross-engine).
   */
  private[graft] def cubicSplineW(i: Int, w: String): String = i match {
    case 0 => s"(((1.0 - $w) * (1.0 - $w) * (1.0 - $w)) / 6.0)" // t = 1+w: (2-t)^3/6
    case 1 => s"((4.0 - 6.0 * ($w * $w) + 3.0 * ($w * $w * $w)) / 6.0)"
    case 2 => s"((4.0 - 6.0 * ((1.0 - $w) * (1.0 - $w)) + 3.0 * ((1.0 - $w) * (1.0 - $w) * (1.0 - $w))) / 6.0)"
    case 3 => s"((($w * $w * $w)) / 6.0)" // t = 2-w: (2-t)^3/6 = w^3/6
  }

  /** Cubic-B-spline warp (Resampling.cubic_spline): 4x4 gather, same
    * physical shape as [[cubic]]. */
  def cubicSpline(stack: Stack, target: GridMeta, crs: CrsTransform): Stack =
    separableGather(stack, target, crs, taps = 4, off = 1, cubicSplineW, normalize = false)

  /**
   * Gaussian weight (rasterio/GDAL `Resampling.gauss`) for tap i ∈ 0..2
   * (source offsets -1, 0, +1) at fractional position `w` ∈ [0,1):
   * exp(-t^2 / (2 sigma^2)) with sigma^2 = 0.25 — the separable
   * continuous analogue of GDAL's discrete [1 2 1]/4 overview kernel
   * (exp(-1/0.5) ≈ 0.135 ≈ the 2x falloff at |t|=1 once normalized).
   * Weight-sum normalized; outputs FLOOR(x*1e3)-quantized in the oracle
   * (EXP is libm — same discipline as lanczos' SIN).
   */
  private[graft] def gaussW(i: Int, w: String): String = {
    val t = i match {
      case 0 => s"(1.0 + $w)"
      case 1 => w
      case 2 => s"(1.0 - $w)"
    }
    s"EXP(-(($t * $t) / 0.5))"
  }

  /** Gaussian warp (Resampling.gauss): 3x3 gather, weight-normalized. */
  def gauss(stack: Stack, target: GridMeta, crs: CrsTransform): Stack =
    separableGather(stack, target, crs, taps = 3, off = 1, gaussW, normalize = true)

  /**
   * Shared shape of the interpolating resamplers: explode taps^2 corner
   * keys per target pixel, ONE left-outer equi-join against the source
   * stack, conditional-agg gather back to one row per target pixel —
   * the source scans once and both shuffles are plain hash
   * partitionings. NULL when any contributing neighbor is missing or
   * masked. `normalize` divides by the separable weight sum (lanczos —
   * its window does not sum to 1).
   */
  private def separableGather(stack: Stack, target: GridMeta, crs: CrsTransform,
                              taps: Int, off: Int, wF: (Int, String) => String,
                              normalize: Boolean): Stack = {
    val m = stack.meta
    val spark = stack.df.sparkSession
    val n2 = taps * taps
    val tgt = graft.sources.RasterStack.grid(spark, target)
      .withColumn("__tx", grid_x(col("row"), col("col"), target))
      .withColumn("__ty", grid_y(col("row"), col("col"), target))
      .withColumn("__sx", crs.sourceX(col("__tx"), col("__ty")))
      .withColumn("__sy", crs.sourceY(col("__tx"), col("__ty")))
      .withColumn("__gx", grid_colf(col("__sx"), col("__sy"), m))
      .withColumn("__gy", grid_rowf(col("__sx"), col("__sy"), m))
      .withColumn("__c0", floor(col("__gx")).cast("long"))
      .withColumn("__r0", floor(col("__gy")).cast("long"))
      .withColumn("__wx", col("__gx") - col("__c0").cast("double"))
      .withColumn("__wy", col("__gy") - col("__r0").cast("double"))
    val exploded = tgt
      .withColumn("__tag", explode(array((0 until n2).map(t => lit(t)): _*)))
      .withColumn("__srow", col("__r0") - off.toLong + idiv(col("__tag").cast("long"), lit(taps.toLong)))
      .withColumn("__scol", col("__c0") - off.toLong + col("__tag").cast("long") % lit(taps.toLong))
    val src = stack.df.select(
      (Seq(col("row").as("__srow"), col("col").as("__scol")) ++ stack.layers.map(col)): _*)
    val joined = exploded.join(src, Seq("__srow", "__scol"), "left_outer")
    val gathers = stack.layers.flatMap(n => (0 until n2).map(t =>
      max(when(col("__tag") === t, col(n))).as(s"__${n}_$t")))
    val agg = joined.groupBy(col("row"), col("col"), col("__wx"), col("__wy"))
      .agg(gathers.head, gathers.tail: _*)
    // HOIST each separable weight into its own column before the
    // interpolation projection: every weight is referenced `taps` times
    // per layer downstream, so CollapseProject keeps this projection (it
    // will not duplicate non-cheap expressions) and the generated output
    // method computes each weight ONCE — inlining the 2x36 lanczos SIN
    // weight texts blew janino's 64 KB method limit and the q57 stage
    // silently ran interpreted. Values are bit-identical (same
    // expressions, same order); only the generated-code shape changes.
    val wAgg = agg.select(
      (Seq(col("row"), col("col")) ++
        stack.layers.flatMap(n => (0 until n2).map(t => col(s"__${n}_$t"))) ++
        (0 until taps).map(i => expr(wF(i, "__wx")).as(s"__wxw_$i")) ++
        (0 until taps).map(j => expr(wF(j, "__wy")).as(s"__wyw_$j"))): _*)
    val wxs = (0 until taps).map(i => col(s"__wxw_$i"))
    val wys = (0 until taps).map(j => col(s"__wyw_$j"))
    val out = stack.layers.foldLeft(wAgg) { (d, n) =>
      val v = (0 until n2).map(t => col(s"__${n}_$t")) // t = j*taps + i
      val anyNull = v.map(_.isNull).reduce(_ || _)
      // separable fixed order: rowsum_j = sum_i wx_i * v[j*taps+i]; then
      // sum_j wy_j * rowsum_j — both folds left-associative, mirroring
      // the oracle's `a + b + c + d` text exactly
      val rowSums = (0 until taps).map(j =>
        (0 until taps).map(i => wxs(i) * v(j * taps + i)).reduce(_ + _))
      val interp = (0 until taps).map(j => wys(j) * rowSums(j)).reduce(_ + _)
      val result =
        if (normalize)
          interp / (wxs.reduce(_ + _) * wys.reduce(_ + _))
        else interp
      d.withColumn(n, when(anyNull, lit(null)).otherwise(result).cast("double"))
    }
    Stack(out.select((Seq("row", "col") ++ stack.layers).map(col): _*), target, stack.layers)
  }

  /**
   * Pooling warps for the remaining decimation resamplers the reference
   * exposes (raster.py:1794-1797 accepts every rasterio Resampling):
   * `how` ∈ min | max — every source pixel center forward-projects onto
   * the target grid ([[average]]'s shape) and pools per target pixel;
   * one hash-agg shuffle keyed by target (row, col), map-side partials,
   * null where nothing valid landed.
   */
  def pool(stack: Stack, target: GridMeta, srcToTarget: CrsTransform, how: String): Stack = {
    val fn: Column => Column = how match {
      case "min" => min
      case "max" => max
      case "sum" => sum
      // rms/median/q1/q3 over INTEGRAL band values are bit-reproducible
      // across engines: sums of integers in double are exact in any
      // combine order, and quartile interpolation fractions (.25/.5/.75)
      // of integers are exact binary arithmetic under either
      // a+(b-a)*f or (1-f)*a+f*b
      case "rms" => c => when(count(c) > 0, sqrt(sum(c * c) / count(c)))
      case "median" => c => percentile(c, lit(0.5))
      case "q1" => c => percentile(c, lit(0.25))
      case "q3" => c => percentile(c, lit(0.75))
      case other => throw new IllegalArgumentException(
        s"unsupported pool '$other' (expected min|max|sum|rms|median|q1|q3; " +
          "average/mode have dedicated operators)")
    }
    val proj = forwardProject(stack, target, srcToTarget)
    val pooled = proj.groupBy(col("__trow").as("row"), col("__tcol").as("col"))
      .agg(fn(col(stack.layers.head)).as(stack.layers.head),
        stack.layers.tail.map(n => fn(col(n)).as(n)): _*)
    val tgt = graft.sources.RasterStack.grid(stack.df.sparkSession, target)
    val out = tgt.join(pooled, Seq("row", "col"), "left_outer")
    Stack(out.select((Seq("row", "col") ++ stack.layers).map(col): _*), target, stack.layers)
  }

  /**
   * Mode-resampling warp (rasterio Resampling.mode) — most frequent
   * valid value per target pixel and layer, ties broken toward the
   * SMALLEST value (deterministic, oracle-reproducible). Per layer: one
   * (row, col, value) hash count + one rank window; layers join back on
   * the target grid.
   */
  def mode(stack: Stack, target: GridMeta, srcToTarget: CrsTransform): Stack = {
    val proj = graft.plans.Caches.track(forwardProject(stack, target, srcToTarget))
    val tgt = graft.sources.RasterStack.grid(stack.df.sparkSession, target)
    val out = stack.layers.foldLeft(tgt) { (d, n) =>
      val votes = proj.where(col(n).isNotNull)
        .groupBy(col("__trow").as("row"), col("__tcol").as("col"), col(n))
        .agg(count(lit(1)).as("__votes"))
      // winner = top-1 under (votes DESC, value ASC): bounded-heap
      // aggregate (hash agg, map-side partials) instead of a rank
      // window; -votes is an exact long negation
      val winner = votes.groupBy(col("row"), col("col"))
        .agg(graft.functions.top_k(
          struct((-col("__votes")).as("__nv"), col(n).as(n)), 1).as("__top"))
        .select(col("row"), col("col"), element_at(col("__top"), 1).getField(n).as(n))
      d.join(winner, Seq("row", "col"), "left_outer")
    }
    Stack(out.select((Seq("row", "col") ++ stack.layers).map(col): _*), target, stack.layers)
  }

  /** Source pixels with forward-projected target (row, col), in-bounds. */
  private def forwardProject(stack: Stack, target: GridMeta,
                             srcToTarget: CrsTransform): DataFrame = {
    val m = stack.meta
    stack.df
      .withColumn("__x", grid_x(col("row"), col("col"), m))
      .withColumn("__y", grid_y(col("row"), col("col"), m))
      .withColumn("__tx", srcToTarget.sourceX(col("__x"), col("__y")))
      .withColumn("__ty", srcToTarget.sourceY(col("__x"), col("__y")))
      .withColumn("__trow", grid_row(col("__tx"), col("__ty"), target))
      .withColumn("__tcol", grid_col(col("__tx"), col("__ty"), target))
      .where(in_bounds(col("__trow"), col("__tcol"), target))
  }

  /**
   * Default target grid for reprojecting `src` through `targetToSource`
   * — the engine's `calculate_default_transform` analogue (the
   * reference computes the target transform/shape itself,
   * raster.py:1730-1766, so `stack.to_crs(crs)` one-liners need no
   * hand-built grid): sample the source bounds BOUNDARY (21 points per
   * edge — edges curve under geodetic transforms, corners alone
   * under-cover), forward-project through `targetToSource.inverse`,
   * take the bbox, and preserve the source pixel count per axis (the
   * reference resolves resolution from the projected extent over the
   * source dimensions; same spirit, closed form).
   */
  def defaultTarget(src: GridMeta, targetToSource: CrsTransform,
                    targetCrs: String = "derived"): GridMeta = {
    val fwd = targetToSource.inverse
    val (x0, y0, x1, y1) = src.bounds
    val n = 20
    val boundary =
      (0 to n).flatMap { i =>
        val fx = x0 + (x1 - x0) * i / n
        val fy = y0 + (y1 - y0) * i / n
        Seq((fx, y0), (fx, y1), (x0, fy), (x1, fy))
      }
    val proj = boundary.map { case (x, y) => fwd.toSourcePt(x, y) }
    GridMeta.northUp(proj.map(_._1).min, proj.map(_._2).min,
      proj.map(_._1).max, proj.map(_._2).max,
      width = src.width, height = src.height, crs = targetCrs)
  }

  /**
   * The reference's to_crs surface (raster.py:1711-1866 accepts every
   * rasterio Resampling NAME): dispatch by resampling string. `crs`
   * ALWAYS maps TARGET world -> SOURCE world (the inverse-warp
   * direction): the interpolating kernels consume it directly and the
   * pooling kernels forward-project through `crs.inverse` — switching
   * only the resampling string keeps the transform argument valid
   * (round-3's silent-wrong-direction hazard is structural now, not a
   * scaladoc warning). [[Identity]] works for pure re-gridding either
   * way.
   */
  def toCrs(stack: Stack, target: GridMeta, crs: CrsTransform,
            resampling: String = "nearest"): Stack = resampling match {
    case "nearest" => nearest(stack, target, crs)
    case "bilinear" => bilinear(stack, target, crs)
    case "cubic" => cubic(stack, target, crs)
    case "cubic_spline" => cubicSpline(stack, target, crs)
    case "lanczos" => lanczos(stack, target, crs)
    case "gauss" => gauss(stack, target, crs)
    case "average" => average(stack, target, crs.inverse)
    case "mode" => mode(stack, target, crs.inverse)
    case "min" | "max" | "sum" | "rms" | "median" | "q1" | "q3" =>
      pool(stack, target, crs.inverse, resampling)
    case other => throw new IllegalArgumentException(
      s"unsupported resampling '$other' (expected nearest|bilinear|cubic|cubic_spline|" +
        "lanczos|gauss|average|mode|min|max|sum|rms|median|q1|q3 — raster.py:1794-1797)")
  }

  def nearest(stack: Stack, target: GridMeta, crs: CrsTransform): Stack = {
    val spark = stack.df.sparkSession
    val tgt = graft.sources.RasterStack.grid(spark, target)
      .withColumn("__tx", grid_x(col("row"), col("col"), target))
      .withColumn("__ty", grid_y(col("row"), col("col"), target))
    val probed = tgt
      .withColumn("__sx", crs.sourceX(col("__tx"), col("__ty")))
      .withColumn("__sy", crs.sourceY(col("__tx"), col("__ty")))
      .withColumn("__srow", grid_row(col("__sx"), col("__sy"), stack.meta))
      .withColumn("__scol", grid_col(col("__sx"), col("__sy"), stack.meta))
    val src = stack.df.select(
      (Seq(col("row").as("__srow"), col("col").as("__scol")) ++ stack.layers.map(col)): _*)
    val joined = probed.join(src, Seq("__srow", "__scol"), "left_outer")
      .drop("__tx", "__ty", "__sx", "__sy", "__srow", "__scol")
    Stack(joined, target, stack.layers)
  }
}

/**
 * Opaque scalar kernel — the ONE engine path of every closed-form CRS
 * projection ([[Warp.Projection]]): a Catalyst expression node whose
 * eval/codegen calls the transform's [[Warp.Projection.toSourcePt]],
 * the [[Utm.DblAr]] instance of the generic series. The Column
 * transforms, the SQL `utm_*` functions and the driver-side grid
 * derivation therefore run the same JVM calls and return the same
 * bits. (An inlined Catalyst tree of the same series would not:
 * Catalyst's Exp/Log compile to java.lang.StrictMath, DblAr uses
 * java.lang.Math, and the two differ in the last bit on some inputs.)
 *
 * WHY opaque: the inline Column instantiation duplicates shared
 * subtrees textually (sinh/atanh double their argument per level), so
 * the forward Krüger series expands to a ~250 KB plan text whose fused
 * whole-stage method blows janino's 64 KB limit, and alias-substituting
 * optimizer walks (dynamic partition pruning's lineage search) re-inline
 * any staged projection — the datum-shifted TM chain re-expanded to
 * 5.3 MB of text. A 3-node tree keeps WholeStageCodegen fused, makes
 * plan transforms O(1), and ships the parameters as a plan reference
 * object (the [[graft.functions.VecDot]] pattern).
 */
case class CrsPoint(left: org.apache.spark.sql.catalyst.expressions.Expression,
                    right: org.apache.spark.sql.catalyst.expressions.Expression,
                    t: Warp.Projection, takeX: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{DataType, DoubleType}

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"crs_${if (takeX) "x" else "y"}"

  def compute(a: Double, b: Double): Double = {
    val r = t.toSourcePt(a, b)
    if (takeX) r._1 else r._2
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[Double], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("crsPoint", this, classOf[CrsPoint].getName)
    defineCodeGen(ctx, ev, (x, y) => s"$ref.compute($x, $y)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
