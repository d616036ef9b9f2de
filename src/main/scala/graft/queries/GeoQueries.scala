package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GridMeta
import graft.functions._
import graft.operators.{KNN, Warp}
import graft.sources.{OracleLit, Pages, RasterStack}

/**
 * Oracle-checked queries for the kNN join, to_crs warp, GeoDist and
 * point-filter operators (SURVEY.md §2.3, §2.11).
 */
object GeoQueries {

  val G: GridMeta = GridMeta.TestGrid
  /** kNN fallback cell resolution (kept for specs pinning a fixed
    * level); the qNN queries use KNN.autoRes — the RESULT is identical
    * at any starting level, only round count/cost changes. */
  val KnnRes = 4
  val K = 5

  /** Warp target grid + affine pseudo-CRS fixture. */
  val TargetG: GridMeta = GridMeta.northUp(-100.0, -50.0, 100.0, 50.0, width = 120, height = 100)
  val Crs: Warp.AffineCrs = Warp.AffineCrs(0.9, 0.05, 3.1, -0.02, 0.95, -1.7)

  /** IDW gridding target: a 40x40, 1-degree window (the oracle
    * brute-forces grid x points, so the window bounds its cost). */
  val IdwG: GridMeta = GridMeta.northUp(-20.0, -20.0, 20.0, 20.0, width = 40, height = 40)

  private def pages(s: SparkSession, dir: String): DataFrame =
    Pages.withIdPoint(Pages.fromDocuments(s, dir), "doc_id")

  private val pagesSql: String =
    s"""(SELECT doc_id, ${Pages.lonSql("doc_id")} AS lon, ${Pages.latSql("doc_id")} AS lat
       | FROM documents)""".stripMargin

  private def probes(s: SparkSession, dir: String): DataFrame =
    pages(s, dir).select(col("doc_id").as("pid"), col("lon").as("plon"), col("lat").as("plat"))

  private def train(s: SparkSession, dir: String): DataFrame =
    pages(s, dir).where(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("tid"), col("lon").as("tlon"), col("lat").as("tlat"),
        (col("doc_id") % 23L).cast("double").as("y"))

  private val distSql =
    "SQRT((p.lon - t.tlon) * (p.lon - t.tlon) + (p.lat - t.tlat) * (p.lat - t.tlat))"
  private val knnRankedSql =
    s"""(SELECT p.doc_id AS pid, t.tid AS nbr_id, t.y AS y, $distSql AS dist,
       |  ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY $distSql, t.tid) AS rnk
       | FROM $pagesSql p
       | CROSS JOIN (SELECT doc_id AS tid, lon AS tlon, lat AS tlat,
       |    CAST(doc_id % 23 AS DOUBLE) AS y FROM $pagesSql WHERE doc_id % 7 = 0) t)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact kNN join via two-stage cell-disk expansion (SURVEY.md §2.3):
    // ranks + distances are integer/IEEE-exact against the cross-join oracle.
    "q21_knn_join" -> ((s, dir) => {
      val t = train(s, dir)
      KNN.join(probes(s, dir), "pid", "plon", "plat",
          t, "tlon", "tlat", "tid", K, KNN.autoRes(t, "tlon", "tlat"))
        .select(col("pid"), col("__rank").cast("long").as("rnk"),
          col("tid").as("nbr_id"), col("__dist").as("dist"))
    }),

    // kNN feature: uniform mean of an integer-valued target over the k
    // neighbors (KNNTransformer, transformers.py:182-233).
    "q22_knn_mean" -> ((s, dir) => {
      val t = train(s, dir)
      val knn = KNN.join(probes(s, dir), "pid", "plon", "plat",
        t, "tlon", "tlat", "tid", K, KNN.autoRes(t, "tlon", "tlat"))
      KNN.meanFeature(knn, "pid", "y", weighting = "uniform")
    }),

    // kNN CALLABLE weighting (transformers.py:235-283 accepts a weights
    // callable): a user Column->Column kernel — integral floor weights
    // keep the oracle's sums combine-order-free, hence exact.
    "q71_knn_callable" -> ((s, dir) => {
      val t = train(s, dir)
      val knn = KNN.join(probes(s, dir), "pid", "plon", "plat",
        t, "tlon", "tlat", "tid", K, KNN.autoRes(t, "tlon", "tlat"))
      KNN.meanFeatureWith(knn, "pid", "y",
        d => floor(lit(100.0) / (lit(1.0) + d)))
    }),

    // to_crs nearest re-gridding through an affine pseudo-CRS
    // (raster.py:1711-1866, nearest = default resampling).
    "q23_to_crs" -> ((s, _) => {
      val st = StackQueries.stack(s)
      Warp.nearest(st, TargetG, Crs).df.select("row", "col", "b1", "b7")
    }),

    // to_crs bilinear resampling: 4-corner gather, fixed-order weighted
    // sum (raster.py:1711-1866, Resampling.bilinear).
    "q42_warp_bilinear" -> ((s, _) => {
      val st = StackQueries.stack(s).select(Seq("b1", "b4"))
      Warp.bilinear(st, TargetG, Crs).df.select("row", "col", "b1", "b4")
    }),

    // to_crs average resampling (Resampling.average): source pixels pool
    // into the target cell they land in; exact sums, single division.
    "q44_warp_average" -> ((s, _) => {
      val st = StackQueries.stack(s).select(Seq("b1", "b4"))
      Warp.average(st, TargetG, Warp.Identity).df.select("row", "col", "b1", "b4")
    }),

    // filter_points: min-distance dedup via cell-snap (vector.py:7-39;
    // divergence from complete-linkage documented in SURVEY.md §2.3).
    "q24_filter_points" -> ((s, dir) => {
      pages(s, dir)
        .withColumn("cell", cell_encode(col("lon"), col("lat"), 6))
        .groupBy("cell")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_points"))
    }),

    // filter_points DISTRIBUTED exact-distance variant (vector.py:7-39
    // without the driver cap): cell-disk candidate edges -> exact
    // Euclidean-degree verify -> connected components (single linkage;
    // divergence from the reference's complete linkage documented on
    // the operator) -> keep smallest id per cluster.
    "q63_filter_points_dist" -> ((s, dir) =>
      graft.operators.Points.filterPointsDist(
        pages(s, dir), "doc_id", "lon", "lat", minDist = 5.0)),

    // IDW gridding (gdal_grid invdist): scattered page points
    // interpolate onto a 40x40 window — cell-disk equi-join (no
    // crossJoin), LONG-quantized 1/(d2+smooth) weights, one division;
    // out-of-range cells stay NULL.
    "q125_idw" -> ((s, dir) =>
      KNN.idw(pages(s, dir)
          .select(col("lon"), col("lat"), (col("doc_id") % 23L).cast("double").as("v")),
        "lon", "lat", "v", IdwG, radius = 8.0)),

    // GeoDistTransformer: distance columns to fixed reference points
    // (transformers.py:286-355).
    "q25_geodist" -> ((s, dir) => {
      KNN.geoDist(pages(s, dir), "lon", "lat",
          Seq((0.0, 0.0), (-100.0, 40.0), (100.0, -40.0)))
        .select("doc_id", "geodist_0", "geodist_1", "geodist_2")
    }),

    // AspectTransformer (transformers.py:358-429): aspect degrees ->
    // (sin, cos) easting/northing components. Quantized FLOOR(x*1e9) on
    // both sides — libm sin/cos agree to ~1 ulp across engines, the 1e-9
    // grid absorbs it away from quantization boundaries.
    "q48_aspect" -> ((s, dir) => {
      val deg = (col("doc_id") % 360L).cast("double")
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          floor(aspect_easting(deg) * 1e9).as("east_q"),
          floor(aspect_northing(deg) * 1e9).as("north_q"))
    }),

    // to_crs with a REAL geodetic transform: nearest-warp the lon/lat
    // stack onto a Web-Mercator (EPSG:3857) meter grid, target pixels
    // back-projected through the closed-form spherical-mercator inverse
    // (raster.py:1711-1866; tests/test_tocrs.py:22-37). Runs through
    // the GRID-LESS to_crs overload: the meter target derives from the
    // source bounds + transform (Warp.defaultTarget = the
    // calculate_default_transform analogue) — the oracle interpolates
    // the SAME derived GridMeta, so the derivation itself is pinned.
    "q49_to_crs_mercator" -> ((s, _) => {
      val st = StackQueries.stack(s).select(Seq("b2", "b5"))
      st.toCrs(Warp.MercatorToLonLat, "nearest", "EPSG:3857")
        .df.select("row", "col", "b2", "b5")
    }),

    // to_crs cubic-convolution resampling (Resampling.cubic, Keys
    // a=-0.5): 16-corner gather, separable fixed-order weighted sum —
    // the weight TEXT is shared between Spark expr() and the oracle.
    "q52_warp_cubic" -> ((s, _) => {
      val st = StackQueries.stack(s).select(Seq("b1", "b4"))
      Warp.cubic(st, TargetG, Crs).df.select("row", "col", "b1", "b4")
    }),

    // to_crs mode resampling (Resampling.mode): most frequent valid
    // value per target pixel, ties to the smallest value.
    "q53_warp_mode" -> ((s, _) => {
      val st = StackQueries.stack(s).select(Seq("b1", "b4"))
      Warp.mode(st, TargetG, Warp.Identity).df.select("row", "col", "b1", "b4")
    }),

    // to_crs min/max pooling (Resampling.min / Resampling.max).
    "q54_warp_minmax" -> ((s, _) => {
      val mn = Warp.pool(StackQueries.stack(s).select(Seq("b1")), TargetG, Warp.Identity, "min")
      val mx = Warp.pool(StackQueries.stack(s).select(Seq("b4")), TargetG, Warp.Identity, "max")
      mn.df.select(col("row"), col("col"), col("b1").as("b1_min"))
        .join(mx.df.select(col("row"), col("col"), col("b4").as("b4_max")), Seq("row", "col"))
    }),

    // to_crs sum/rms/med/q1/q3 pooling (Resampling.sum/rms/med/q1/q3) —
    // exact across engines because band values are integral doubles
    // (order-free integer sums; quartile interpolation fractions exact).
    "q56_warp_pool_stats" -> ((s, _) => {
      def p(how: String, alias: String) =
        Warp.pool(StackQueries.stack(s).select(Seq("b1")), TargetG, Warp.Identity, how)
          .df.select(col("row"), col("col"), col("b1").as(alias))
      p("sum", "b1_sum").join(p("rms", "b1_rms"), Seq("row", "col"))
        .join(p("median", "b1_med"), Seq("row", "col"))
        .join(p("q1", "b1_q1"), Seq("row", "col"))
        .join(p("q3", "b1_q3"), Seq("row", "col"))
    }),

    // to_crs lanczos-3 (Resampling.lanczos): 6x6 windowed-sinc gather,
    // weight-sum normalized; oracle compares FLOOR(x*1e3)-quantized
    // outputs (libm SIN differs from the JVM in the last ulp on ~0.2%
    // of inputs — the quantization absorbs the ~1e-12 output wobble).
    "q57_warp_lanczos" -> ((s, _) => {
      val st = StackQueries.stack(s).select(Seq("b1", "b4"))
      Warp.lanczos(st, TargetG, Crs).df
        .select(col("row"), col("col"),
          floor(col("b1") * 1000.0).as("b1_q"), floor(col("b4") * 1000.0).as("b4_q"))
    }),

    // to_crs cubic B-spline (Resampling.cubic_spline — the GDAL
    // smoothing cubic, B3 basis, partition of unity): pure-arithmetic
    // weights, bit-exact like q52.
    "q64_warp_cubicspline" -> ((s, _) => {
      val st = StackQueries.stack(s).select(Seq("b1", "b4"))
      Warp.cubicSpline(st, TargetG, Crs).df.select("row", "col", "b1", "b4")
    }),

    // to_crs gaussian (Resampling.gauss): EXP weights are libm, so
    // outputs quantize FLOOR(x*1e3) like lanczos' SIN (q57).
    "q65_warp_gauss" -> ((s, _) => {
      val st = StackQueries.stack(s).select(Seq("b1", "b4"))
      Warp.gauss(st, TargetG, Crs).df
        .select(col("row"), col("col"),
          floor(col("b1") * 1000.0).as("b1_q"), floor(col("b4") * 1000.0).as("b4_q"))
    }),

    // to_crs onto a UTM zone (EPSG:32631) — the general projected-CRS
    // family beyond the mercator pair (raster.py:1711-1866 accepts any
    // pyproj CRS; tests/test_tocrs.py:22-37): nearest-warp a zone-31
    // lon/lat source window onto the DERIVED meter grid (grid-less
    // overload -> Warp.defaultTarget), target pixels back-projected
    // through the inverse Krüger series. The oracle instantiates the
    // SAME generic series as SQL text (Utm.SqlAr), so evaluation order
    // is identical by construction.
    "q68_to_crs_utm" -> ((s, _) => {
      import graft.sources.RasterStack
      val st = graft.operators.Stack(
        RasterStack.stack(s, UtmSrcG).drop("x", "y"), UtmSrcG,
        RasterStack.NcBands.map(_.name)).select(Seq("b2", "b5"))
      st.toCrs(UtmCrs, "nearest", UtmCrs.epsg).df.select("row", "col", "b2", "b5")
    }),

    // to_crs average-pooling onto the UTM meter grid: the POOLING
    // kernels consume the FORWARD series (source lon/lat pixel centers
    // project through LonLatToUtm = crs.inverse of q68's transform) —
    // pins the bidirectional contract on a real projected CRS. Exact:
    // integral band sums, single division.
    "q74_warp_utm_average" -> ((s, _) => {
      import graft.sources.RasterStack
      val st = graft.operators.Stack(
        RasterStack.stack(s, UtmSrcG).drop("x", "y"), UtmSrcG,
        RasterStack.NcBands.map(_.name)).select(Seq("b1", "b4"))
      st.toCrs(UtmG, UtmCrs, "average").df.select("row", "col", "b1", "b4")
    }),

    // to_crs onto a Lambert-conformal-conic grid (RGF93 / Lambert-93,
    // EPSG:2154) — the SECOND projected family behind national grids
    // (raster.py:1711-1866 accepts any pyproj CRS): nearest-warp a
    // France lon/lat window onto the DERIVED conic meter grid
    // (grid-less overload -> Warp.defaultTarget), target pixels
    // back-projected through the closed-form Snyder inverse with the
    // fixed-5x latitude iteration. The oracle instantiates the SAME
    // generic series as SQL text (Utm.SqlAr via Lcc.invLonLat), so
    // evaluation order is identical by construction.
    "q78_to_crs_lcc" -> ((s, _) => {
      import graft.sources.RasterStack
      val st = graft.operators.Stack(
        RasterStack.stack(s, LccSrcG).drop("x", "y"), LccSrcG,
        RasterStack.NcBands.map(_.name)).select(Seq("b2", "b5"))
      st.toCrs(LccCrs, "nearest", LccCrs.epsg).df.select("row", "col", "b2", "b5")
    }),

    // sum-pooling onto the Lambert-93 meter grid: the pooling kernels
    // consume the FORWARD conic (source lon/lat pixel centers project
    // through LonLatToLcc = crs.inverse of q78's transform) — pins the
    // bidirectional LCC contract like q74 does for UTM. Exact:
    // integral band sums, no division.
    "q79_warp_lcc_sum" -> ((s, _) => {
      import graft.sources.RasterStack
      val st = graft.operators.Stack(
        RasterStack.stack(s, LccSrcG).drop("x", "y"), LccSrcG,
        RasterStack.NcBands.map(_.name)).select(Seq("b1", "b4"))
      st.toCrs(LccG, LccCrs, "sum").df.select("row", "col", "b1", "b4")
    }),

    // to_crs onto a polar-stereographic grid (NSIDC EPSG:3413) — the
    // THIRD projected family (polar sea-ice/DEM grids): nearest-warp an
    // Arctic lon/lat window (the full longitude circle) onto the
    // DERIVED polar meter grid; target pixels back-project through the
    // Snyder inverse whose longitude is the composed full-quadrant
    // atan2 + antimeridian wrap — every branch text shared with the
    // DuckDB twin via the typeclass.
    "q82_to_crs_ps" -> ((s, _) => {
      import graft.sources.RasterStack
      val st = graft.operators.Stack(
        RasterStack.stack(s, PsSrcG).drop("x", "y"), PsSrcG,
        RasterStack.NcBands.map(_.name)).select(Seq("b2", "b5"))
      st.toCrs(PsCrs, "nearest", PsCrs.epsg).df.select("row", "col", "b2", "b5")
    }),

    // max-pooling onto the polar grid: the pooling kernels consume the
    // FORWARD stereographic (crs.inverse of q82) — bidirectional
    // contract on the polar family like q74/q79. Exact: integral max.
    "q83_warp_ps_max" -> ((s, _) => {
      import graft.sources.RasterStack
      val st = graft.operators.Stack(
        RasterStack.stack(s, PsSrcG).drop("x", "y"), PsSrcG,
        RasterStack.NcBands.map(_.name)).select(Seq("b1", "b4"))
      st.toCrs(PsG, PsCrs, "max").df.select("row", "col", "b1", "b4")
    }),

    // to_crs onto an Albers equal-area conic grid (NAD83 / Conus
    // Albers, EPSG:5070 — the USGS/NLCD grid): the FOURTH projected
    // family and the first EQUAL-AREA one (UTM/LCC/PS are conformal).
    // Nearest-warp a CONUS lon/lat window onto the DERIVED equal-area
    // meter grid; target pixels back-project through the Snyder
    // inverse (authalic-latitude Newton iteration unrolled 5x, asin
    // composed from ATAN/SQRT) — series text shared with the twin.
    "q84_to_crs_albers" -> ((s, _) => {
      import graft.sources.RasterStack
      val st = graft.operators.Stack(
        RasterStack.stack(s, AeaSrcG).drop("x", "y"), AeaSrcG,
        RasterStack.NcBands.map(_.name)).select(Seq("b2", "b5"))
      st.toCrs(AeaCrs, "nearest", AeaCrs.epsg).df.select("row", "col", "b2", "b5")
    }),

    // rms-pooling onto the Albers grid through the FORWARD equal-area
    // conic (crs.inverse of q84) — bidirectional contract on the
    // family like q74/q79/q83. Exact: integral squares sum order-free,
    // one division + one sqrt in both engines.
    "q85_warp_albers_rms" -> ((s, _) => {
      import graft.sources.RasterStack
      val st = graft.operators.Stack(
        RasterStack.stack(s, AeaSrcG).drop("x", "y"), AeaSrcG,
        RasterStack.NcBands.map(_.name)).select(Seq("b1", "b4"))
      st.toCrs(AeaG, AeaCrs, "rms").df.select("row", "col", "b1", "b4")
    }),

    // to_crs onto the British National Grid (EPSG:27700) via the EPSG
    // REGISTRY — the first target on a LEGACY DATUM: the back-
    // projection chains the generic-TM inverse on Airy 1830 with the
    // OSGB36->WGS84 Helmert hop (ECEF + Bowring). The engine runs the
    // chain in one opaque CrsPoint node; the oracle replays it STAGED
    // as nested SELECTs (TmercToLonLat.stagedSql), because the composed
    // scalar text explodes combinatorially (5.3 MB vs 4 KB/stage) — a
    // stored double reloads exactly, so IEEE op order stays identical.
    "q112_to_crs_bng" -> ((s, _) => {
      import graft.sources.RasterStack
      val st = graft.operators.Stack(
        RasterStack.stack(s, BngSrcG).drop("x", "y"), BngSrcG,
        RasterStack.NcBands.map(_.name)).select(Seq("b2", "b5"))
      st.toCrs(BngCrs, "nearest", "EPSG:27700").df.select("row", "col", "b2", "b5")
    }),

    // min-pooling onto the NZTM2000 grid (EPSG:2193, GRS80 — second
    // registry-dispatched TM, no datum shift, southern hemisphere,
    // near-antimeridian domain): source lon/lat pixel centers project
    // through the FORWARD generic-TM (crs.inverse of the registry
    // transform) — pins the bidirectional contract for the generic
    // kernel like q74/q79/q83/q85 do for the fixed families. Exact:
    // integral MIN, no arithmetic after the shuffle.
    "q113_warp_nztm_min" -> ((s, _) => {
      import graft.sources.RasterStack
      val st = graft.operators.Stack(
        RasterStack.stack(s, NztmSrcG).drop("x", "y"), NztmSrcG,
        RasterStack.NcBands.map(_.name)).select(Seq("b1", "b4"))
      st.toCrs(NztmG, NztmCrs, "min").df.select("row", "col", "b1", "b4")
    })
  )

  /** UTM fixture: a zone-31-north source window (lon 0..6, lat 30..54). */
  val UtmSrcG: GridMeta = GridMeta.northUp(0.0, 30.0, 6.0, 54.0, width = 160, height = 200)
  val UtmCrs: Warp.UtmToLonLat = Warp.UtmToLonLat(31, north = true)
  /** Derived meter target — the oracle interpolates these literals, so
    * the defaultTarget derivation is pinned exactly like q49's MercG. */
  val UtmG: GridMeta = Warp.defaultTarget(UtmSrcG, UtmCrs, UtmCrs.epsg)

  /** LCC fixture: a France lon/lat window inside the Lambert-93 cone. */
  val LccSrcG: GridMeta = GridMeta.northUp(-1.0, 42.0, 7.0, 50.0, width = 160, height = 200)
  val LccCrs: Warp.LccToLonLat = Warp.LccToLonLat(graft.operators.Lcc.Lambert93, "EPSG:2154")
  /** Derived conic meter target (defaultTarget pinned via the oracle's
    * interpolated literals, the UtmG pattern). */
  val LccG: GridMeta = Warp.defaultTarget(LccSrcG, LccCrs, LccCrs.epsg)

  /** Albers fixture: the CONUS window inside the EPSG:5070 cone. */
  val AeaSrcG: GridMeta = GridMeta.northUp(-124.0, 25.0, -67.0, 49.0, width = 190, height = 160)
  val AeaCrs: Warp.AlbersToLonLat =
    Warp.AlbersToLonLat(graft.operators.Albers.Conus, "EPSG:5070")
  val AeaG: GridMeta = Warp.defaultTarget(AeaSrcG, AeaCrs, AeaCrs.epsg)

  /** Polar fixture: the full-circle Arctic window above the EPSG:3413
    * standard parallel (all longitudes — exercises the quadrant
    * branches and the antimeridian wrap). */
  val PsSrcG: GridMeta = GridMeta.northUp(-180.0, 70.0, 180.0, 88.0, width = 240, height = 120)
  val PsCrs: Warp.PsToLonLat =
    Warp.PsToLonLat(graft.operators.PolarStereo.Epsg3413, "EPSG:3413")
  val PsG: GridMeta = Warp.defaultTarget(PsSrcG, PsCrs, PsCrs.epsg)

  /** BNG fixture: a UK lon/lat window (WGS84) warped onto EPSG:27700
    * through the registry (generic TM on Airy 1830 + OSGB36 Helmert). */
  val BngSrcG: GridMeta = GridMeta.northUp(-7.0, 50.0, 2.0, 59.0, width = 180, height = 180)
  val BngCrs: graft.operators.Epsg.TmercToLonLat =
    graft.operators.Epsg.toLonLat(27700).asInstanceOf[graft.operators.Epsg.TmercToLonLat]
  val BngG: GridMeta = Warp.defaultTarget(BngSrcG, BngCrs, "EPSG:27700")

  /** NZTM fixture: a New Zealand lon/lat window (GRS80 TM, south,
    * close to the antimeridian), registry-dispatched EPSG:2193. */
  val NztmSrcG: GridMeta = GridMeta.northUp(166.0, -47.0, 179.0, -34.0, width = 130, height = 130)
  val NztmCrs: graft.operators.Epsg.TmercToLonLat =
    graft.operators.Epsg.toLonLat(2193).asInstanceOf[graft.operators.Epsg.TmercToLonLat]
  val NztmG: GridMeta = Warp.defaultTarget(NztmSrcG, NztmCrs, "EPSG:2193")

  /** Web-Mercator target grid (meters, EPSG:3857): DERIVED from the
    * source grid + transform by Warp.defaultTarget — exactly what the
    * grid-less q49 `toCrs` overload computes, so the oracle's
    * interpolated literals pin the derivation. */
  val MercG: GridMeta =
    Warp.defaultTarget(GridMeta.TestGrid, Warp.MercatorToLonLat, "EPSG:3857")

  /**
   * Oracle generator for the separable-gather warps (q52/q57's shape,
   * parametrized): taps^2 LEFT JOINs around the back-projected floor
   * position, fixed-order separable weighted sum with the weight SQL
   * TEXT shared with the Spark side (IEEE order identical by
   * construction), optional weight-sum normalization and FLOOR(x*1e3)
   * output quantization (for libm-bearing weights).
   */
  private def separableWarpOracle(taps: Int, off: Int, wF: (Int, String) => String,
                                  normalize: Boolean, quantize: Boolean): String = {
    import OracleLit.d
    val tx = RasterStack.xSql(TargetG, "tcol"); val ty = RasterStack.ySql(TargetG, "trow")
    val sx = Crs.sxSql(tx, ty); val sy = Crs.sySql(tx, ty)
    val gx = s"(($sx - ${d(G.c)}) / ${d(G.a)} - 0.5)"
    val gy = s"(($sy - ${d(G.f)}) / ${d(G.e)} - 0.5)"
    val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(G)})"
    val joins = (for (j <- 0 until taps; i <- 0 until taps) yield
      s"LEFT JOIN $pix g$j$i ON g$j$i.row = t.r0 - $off + $j AND g$j$i.col = t.c0 - $off + $i")
      .mkString("\n")
    val wxSum = (0 until taps).map(i => wF(i, "wx")).mkString(" + ")
    val wySum = (0 until taps).map(j => wF(j, "wy")).mkString(" + ")
    def interp(n: String) = {
      val anyNull = (for (j <- 0 until taps; i <- 0 until taps) yield s"g$j$i.$n IS NULL").mkString(" OR ")
      val rowSums = (0 until taps).map { j =>
        (0 until taps).map(i => s"${wF(i, "wx")} * g$j$i.$n").mkString("(", " + ", ")")
      }
      val total = (0 until taps).map(j => s"${wF(j, "wy")} * ${rowSums(j)}").mkString(" + ")
      val value = if (normalize) s"(($total) / (($wxSum) * ($wySum)))" else s"$total"
      if (quantize)
        s"CASE WHEN $anyNull THEN NULL ELSE CAST(FLOOR(($value) * 1000.0) AS BIGINT) END AS ${n}_q"
      else s"CASE WHEN $anyNull THEN NULL ELSE $value END AS $n"
    }
    s"""SELECT t.trow AS row, t.tcol AS col, ${interp("b1")}, ${interp("b4")}
       |FROM (SELECT trow, tcol, c0, r0, gx - CAST(c0 AS DOUBLE) AS wx, gy - CAST(r0 AS DOUBLE) AS wy
       |      FROM (SELECT CAST(range // ${TargetG.width} AS BIGINT) AS trow,
       |                   CAST(range % ${TargetG.width} AS BIGINT) AS tcol,
       |                   $gx AS gx, $gy AS gy,
       |                   CAST(FLOOR($gx) AS BIGINT) AS c0, CAST(FLOOR($gy) AS BIGINT) AS r0
       |            FROM range(${TargetG.cells}))) t
       |$joins""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "q64_warp_cubicspline" ->
      separableWarpOracle(4, 1, Warp.cubicSplineW, normalize = false, quantize = false),

    "q65_warp_gauss" ->
      separableWarpOracle(3, 1, Warp.gaussW, normalize = true, quantize = true),

    "q21_knn_join" ->
      s"SELECT pid, rnk, nbr_id, dist FROM $knnRankedSql WHERE rnk <= $K",

    "q22_knn_mean" ->
      s"SELECT pid, AVG(y) AS knn_y FROM (SELECT * FROM $knnRankedSql WHERE rnk <= $K) GROUP BY pid",

    "q71_knn_callable" ->
      s"""SELECT pid, SUM(FLOOR(100.0 / (1.0 + dist)) * y) / SUM(FLOOR(100.0 / (1.0 + dist))) AS knn_y
         |FROM (SELECT * FROM $knnRankedSql WHERE rnk <= $K) GROUP BY pid""".stripMargin,

    "q23_to_crs" -> {
      val tx = RasterStack.xSql(TargetG, "tcol"); val ty = RasterStack.ySql(TargetG, "trow")
      val sx = Crs.sxSql(tx, ty); val sy = Crs.sySql(tx, ty)
      val srow = s"CAST(FLOOR(($sy - ${OracleLit.d(G.f)}) / (${OracleLit.d(G.e)})) AS BIGINT)"
      val scol = s"CAST(FLOOR(($sx - ${OracleLit.d(G.c)}) / (${OracleLit.d(G.a)})) AS BIGINT)"
      s"""SELECT t.trow AS row, t.tcol AS col, g.b1, g.b7
         |FROM (SELECT CAST(range // ${TargetG.width} AS BIGINT) AS trow,
         |             CAST(range % ${TargetG.width} AS BIGINT) AS tcol,
         |             $srow AS srow, $scol AS scol
         |      FROM range(${TargetG.cells})) t
         |LEFT JOIN (SELECT row, col,
         |    ${RasterStack.NcBands.filter(b => Set("b1", "b7")(b.name)).map(b => RasterStack.bandSql("row", "col", b) + s" AS ${b.name}").mkString(", ")}
         |  FROM ${RasterStack.gridSql(G)}) g
         |ON g.row = t.srow AND g.col = t.scol""".stripMargin
    },

    "q42_warp_bilinear" -> {
      import OracleLit.d
      val tx = RasterStack.xSql(TargetG, "tcol"); val ty = RasterStack.ySql(TargetG, "trow")
      val sx = Crs.sxSql(tx, ty); val sy = Crs.sySql(tx, ty)
      val gx = s"(($sx - ${d(G.c)}) / ${d(G.a)} - 0.5)"
      val gy = s"(($sy - ${d(G.f)}) / ${d(G.e)} - 0.5)"
      def band(b: RasterStack.BandDef, r: String, c: String) = RasterStack.bandSql(r, c, b)
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => band(RasterStack.NcBands.find(_.name == n).get, "row", "col") + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(G)})"
      def interp(n: String) =
        s"""CASE WHEN g00.$n IS NULL OR g01.$n IS NULL OR g10.$n IS NULL OR g11.$n IS NULL THEN NULL
           |     ELSE (1.0 - wy) * ((1.0 - wx) * g00.$n + wx * g01.$n) + wy * ((1.0 - wx) * g10.$n + wx * g11.$n)
           |END AS $n""".stripMargin
      s"""SELECT t.trow AS row, t.tcol AS col, ${interp("b1")}, ${interp("b4")}
         |FROM (SELECT trow, tcol, c0, r0, gx - CAST(c0 AS DOUBLE) AS wx, gy - CAST(r0 AS DOUBLE) AS wy
         |      FROM (SELECT CAST(range // ${TargetG.width} AS BIGINT) AS trow,
         |                   CAST(range % ${TargetG.width} AS BIGINT) AS tcol,
         |                   $gx AS gx, $gy AS gy,
         |                   CAST(FLOOR($gx) AS BIGINT) AS c0, CAST(FLOOR($gy) AS BIGINT) AS r0
         |            FROM range(${TargetG.cells}))) t
         |LEFT JOIN $pix g00 ON g00.row = t.r0 AND g00.col = t.c0
         |LEFT JOIN $pix g01 ON g01.row = t.r0 AND g01.col = t.c0 + 1
         |LEFT JOIN $pix g10 ON g10.row = t.r0 + 1 AND g10.col = t.c0
         |LEFT JOIN $pix g11 ON g11.row = t.r0 + 1 AND g11.col = t.c0 + 1""".stripMargin
    },

    "q44_warp_average" -> {
      import OracleLit.d
      val x = RasterStack.xSql(G); val y = RasterStack.ySql(G)
      val trow = s"CAST(FLOOR(($y - ${d(TargetG.f)}) / (${d(TargetG.e)})) AS BIGINT)"
      val tcol = s"CAST(FLOOR(($x - ${d(TargetG.c)}) / (${d(TargetG.a)})) AS BIGINT)"
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(G)})"
      s"""SELECT t.row, t.col,
         | CASE WHEN s.c1 > 0 THEN s.s1 / s.c1 END AS b1,
         | CASE WHEN s.c4 > 0 THEN s.s4 / s.c4 END AS b4
         |FROM ${RasterStack.gridSql(TargetG)} t
         |LEFT JOIN (
         | SELECT trow, tcol, SUM(b1) AS s1, COUNT(b1) AS c1, SUM(b4) AS s4, COUNT(b4) AS c4
         | FROM (SELECT $trow AS trow, $tcol AS tcol, b1, b4 FROM $pix)
         | WHERE trow >= 0 AND trow < ${TargetG.height} AND tcol >= 0 AND tcol < ${TargetG.width}
         | GROUP BY 1, 2) s
         |ON s.trow = t.row AND s.tcol = t.col""".stripMargin
    },

    "q24_filter_points" -> {
      val n = 1L << 6
      val cell = s"(${6L * 288230376151711744L} + CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT) * 536870912" +
        s" + CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT))"
      s"""SELECT $cell AS cell, MIN(doc_id) AS keep_id, COUNT(*) AS n_points
         |FROM $pagesSql GROUP BY 1""".stripMargin
    },

    "q125_idw" -> KNN.idwSql(
      s"""(SELECT ${Pages.lonSql("doc_id")} AS px, ${Pages.latSql("doc_id")} AS py,
         |  CAST(doc_id % 23 AS BIGINT) AS v FROM documents)""".stripMargin,
      RasterStack.gridSql(IdwG), RasterStack.xSql(IdwG), RasterStack.ySql(IdwG),
      radius = 8.0),

    "q25_geodist" -> {
      def d(rx: Double, ry: Double, i: Int) =
        s"SQRT((lon - ${OracleLit.d(rx)}) * (lon - ${OracleLit.d(rx)}) + (lat - ${OracleLit.d(ry)}) * (lat - ${OracleLit.d(ry)})) AS geodist_$i"
      s"SELECT doc_id, ${d(0.0, 0.0, 0)}, ${d(-100.0, 40.0, 1)}, ${d(100.0, -40.0, 2)} FROM $pagesSql"
    },

    "q48_aspect" -> {
      // radians replayed exactly as java.lang.Math.toRadians: deg / 180 * pi
      val rad = s"((deg / ${OracleLit.d(180.0)}) * ${OracleLit.d(math.Pi)})"
      val e9 = OracleLit.d(1e9)
      s"""SELECT doc_id,
         | CAST(FLOOR(SIN($rad) * $e9) AS BIGINT) AS east_q,
         | CAST(FLOOR(COS($rad) * $e9) AS BIGINT) AS north_q
         |FROM (SELECT doc_id, CAST(doc_id % 360 AS DOUBLE) AS deg FROM documents)""".stripMargin
    },

    "q52_warp_cubic" -> {
      import OracleLit.d
      val tx = RasterStack.xSql(TargetG, "tcol"); val ty = RasterStack.ySql(TargetG, "trow")
      val sx = Crs.sxSql(tx, ty); val sy = Crs.sySql(tx, ty)
      val gx = s"(($sx - ${d(G.c)}) / ${d(G.a)} - 0.5)"
      val gy = s"(($sy - ${d(G.f)}) / ${d(G.e)} - 0.5)"
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(G)})"
      val joins = (for (j <- 0 until 4; i <- 0 until 4) yield
        s"LEFT JOIN $pix g$j$i ON g$j$i.row = t.r0 - 1 + $j AND g$j$i.col = t.c0 - 1 + $i")
        .mkString("\n")
      def interp(n: String) = {
        val anyNull = (for (j <- 0 until 4; i <- 0 until 4) yield s"g$j$i.$n IS NULL").mkString(" OR ")
        val rowSums = (0 until 4).map { j =>
          (0 until 4).map(i => s"${Warp.cubicW(i, "wx")} * g$j$i.$n").mkString("(", " + ", ")")
        }
        val total = (0 until 4).map(j => s"${Warp.cubicW(j, "wy")} * ${rowSums(j)}").mkString(" + ")
        s"CASE WHEN $anyNull THEN NULL ELSE $total END AS $n"
      }
      s"""SELECT t.trow AS row, t.tcol AS col, ${interp("b1")}, ${interp("b4")}
         |FROM (SELECT trow, tcol, c0, r0, gx - CAST(c0 AS DOUBLE) AS wx, gy - CAST(r0 AS DOUBLE) AS wy
         |      FROM (SELECT CAST(range // ${TargetG.width} AS BIGINT) AS trow,
         |                   CAST(range % ${TargetG.width} AS BIGINT) AS tcol,
         |                   $gx AS gx, $gy AS gy,
         |                   CAST(FLOOR($gx) AS BIGINT) AS c0, CAST(FLOOR($gy) AS BIGINT) AS r0
         |            FROM range(${TargetG.cells}))) t
         |$joins""".stripMargin
    },

    "q53_warp_mode" -> {
      import OracleLit.d
      val x = RasterStack.xSql(G); val y = RasterStack.ySql(G)
      val trow = s"CAST(FLOOR(($y - ${d(TargetG.f)}) / (${d(TargetG.e)})) AS BIGINT)"
      val tcol = s"CAST(FLOOR(($x - ${d(TargetG.c)}) / (${d(TargetG.a)})) AS BIGINT)"
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(G)})"
      val proj = s"""(SELECT $trow AS trow, $tcol AS tcol, b1, b4 FROM $pix
                    | WHERE $trow >= 0 AND $trow < ${TargetG.height} AND $tcol >= 0 AND $tcol < ${TargetG.width})""".stripMargin
      def modeOf(n: String) =
        s"""(SELECT row, col, $n FROM (
           |  SELECT trow AS row, tcol AS col, $n,
           |    ROW_NUMBER() OVER (PARTITION BY trow, tcol ORDER BY cnt DESC, $n ASC) AS rn
           |  FROM (SELECT trow, tcol, $n, COUNT(*) AS cnt FROM $proj
           |        WHERE $n IS NOT NULL GROUP BY 1, 2, 3))
           | WHERE rn = 1)""".stripMargin
      s"""SELECT t.row, t.col, m1.b1, m4.b4
         |FROM ${RasterStack.gridSql(TargetG)} t
         |LEFT JOIN ${modeOf("b1")} m1 ON m1.row = t.row AND m1.col = t.col
         |LEFT JOIN ${modeOf("b4")} m4 ON m4.row = t.row AND m4.col = t.col""".stripMargin
    },

    "q54_warp_minmax" -> {
      import OracleLit.d
      val x = RasterStack.xSql(G); val y = RasterStack.ySql(G)
      val trow = s"CAST(FLOOR(($y - ${d(TargetG.f)}) / (${d(TargetG.e)})) AS BIGINT)"
      val tcol = s"CAST(FLOOR(($x - ${d(TargetG.c)}) / (${d(TargetG.a)})) AS BIGINT)"
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(G)})"
      s"""SELECT t.row, t.col, s.b1_min, s.b4_max
         |FROM ${RasterStack.gridSql(TargetG)} t
         |LEFT JOIN (
         | SELECT trow, tcol, MIN(b1) AS b1_min, MAX(b4) AS b4_max
         | FROM (SELECT $trow AS trow, $tcol AS tcol, b1, b4 FROM $pix)
         | WHERE trow >= 0 AND trow < ${TargetG.height} AND tcol >= 0 AND tcol < ${TargetG.width}
         | GROUP BY 1, 2) s
         |ON s.trow = t.row AND s.tcol = t.col""".stripMargin
    },

    "q56_warp_pool_stats" -> {
      import OracleLit.d
      val x = RasterStack.xSql(G); val y = RasterStack.ySql(G)
      val trow = s"CAST(FLOOR(($y - ${d(TargetG.f)}) / (${d(TargetG.e)})) AS BIGINT)"
      val tcol = s"CAST(FLOOR(($x - ${d(TargetG.c)}) / (${d(TargetG.a)})) AS BIGINT)"
      val pix = s"(SELECT row, col, ${RasterStack.bandSql("row", "col", RasterStack.NcBands.head)} AS b1 FROM ${RasterStack.gridSql(G)})"
      s"""SELECT t.row, t.col, s.b1_sum, s.b1_rms, s.b1_med, s.b1_q1, s.b1_q3
         |FROM ${RasterStack.gridSql(TargetG)} t
         |LEFT JOIN (
         | SELECT trow, tcol, SUM(b1) AS b1_sum,
         |   CASE WHEN COUNT(b1) > 0 THEN SQRT(SUM(b1 * b1) / COUNT(b1)) END AS b1_rms,
         |   quantile_cont(b1, 0.5) AS b1_med,
         |   quantile_cont(b1, 0.25) AS b1_q1,
         |   quantile_cont(b1, 0.75) AS b1_q3
         | FROM (SELECT $trow AS trow, $tcol AS tcol, b1 FROM $pix)
         | WHERE trow >= 0 AND trow < ${TargetG.height} AND tcol >= 0 AND tcol < ${TargetG.width}
         | GROUP BY 1, 2) s
         |ON s.trow = t.row AND s.tcol = t.col""".stripMargin
    },

    "q57_warp_lanczos" -> {
      import OracleLit.d
      val tx = RasterStack.xSql(TargetG, "tcol"); val ty = RasterStack.ySql(TargetG, "trow")
      val sx = Crs.sxSql(tx, ty); val sy = Crs.sySql(tx, ty)
      val gx = s"(($sx - ${d(G.c)}) / ${d(G.a)} - 0.5)"
      val gy = s"(($sy - ${d(G.f)}) / ${d(G.e)} - 0.5)"
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(G)})"
      val joins = (for (j <- 0 until 6; i <- 0 until 6) yield
        s"LEFT JOIN $pix g$j$i ON g$j$i.row = t.r0 - 2 + $j AND g$j$i.col = t.c0 - 2 + $i")
        .mkString("\n")
      val wxSum = (0 until 6).map(i => Warp.lanczosW(i, "wx")).mkString(" + ")
      val wySum = (0 until 6).map(j => Warp.lanczosW(j, "wy")).mkString(" + ")
      def interp(n: String) = {
        val anyNull = (for (j <- 0 until 6; i <- 0 until 6) yield s"g$j$i.$n IS NULL").mkString(" OR ")
        val rowSums = (0 until 6).map { j =>
          (0 until 6).map(i => s"${Warp.lanczosW(i, "wx")} * g$j$i.$n").mkString("(", " + ", ")")
        }
        val total = (0 until 6).map(j => s"${Warp.lanczosW(j, "wy")} * ${rowSums(j)}").mkString(" + ")
        s"CASE WHEN $anyNull THEN NULL ELSE CAST(FLOOR((($total) / (($wxSum) * ($wySum))) * 1000.0) AS BIGINT) END AS ${n}_q"
      }
      s"""SELECT t.trow AS row, t.tcol AS col, ${interp("b1")}, ${interp("b4")}
         |FROM (SELECT trow, tcol, c0, r0, gx - CAST(c0 AS DOUBLE) AS wx, gy - CAST(r0 AS DOUBLE) AS wy
         |      FROM (SELECT CAST(range // ${TargetG.width} AS BIGINT) AS trow,
         |                   CAST(range % ${TargetG.width} AS BIGINT) AS tcol,
         |                   $gx AS gx, $gy AS gy,
         |                   CAST(FLOOR($gx) AS BIGINT) AS c0, CAST(FLOOR($gy) AS BIGINT) AS r0
         |            FROM range(${TargetG.cells}))) t
         |$joins""".stripMargin
    },

    // single-linkage = connected components over the exact-distance
    // edge relation; reachability closure via recursive CTE (q59's
    // oracle pattern), untouched points label themselves
    "q63_filter_points_dist" -> {
      val dist2 = s"((a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat))"
      s"""WITH RECURSIVE pts AS (SELECT doc_id AS id, lon, lat FROM $pagesSql),
         |edges AS (SELECT a.id AS src, b.id AS dst FROM pts a JOIN pts b
         |          ON a.id <> b.id AND $dist2 < ${OracleLit.d(25.0)}),
         |reach AS (SELECT src, dst FROM edges
         |          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
         |comp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS component FROM reach GROUP BY src),
         |labeled AS (SELECT p.id, COALESCE(c.component, p.id) AS component
         |            FROM pts p LEFT JOIN comp c ON c.id = p.id)
         |SELECT MIN(id) AS keep_id, COUNT(*) AS n_points FROM labeled GROUP BY component""".stripMargin
    },

    "q68_to_crs_utm" -> {
      val tx = RasterStack.xSql(UtmG, "tcol"); val ty = RasterStack.ySql(UtmG, "trow")
      val sx = UtmCrs.sxSql(tx, ty)
      val sy = UtmCrs.sySql(tx, ty)
      val srow = s"CAST(FLOOR(($sy - ${OracleLit.d(UtmSrcG.f)}) / (${OracleLit.d(UtmSrcG.e)})) AS BIGINT)"
      val scol = s"CAST(FLOOR(($sx - ${OracleLit.d(UtmSrcG.c)}) / (${OracleLit.d(UtmSrcG.a)})) AS BIGINT)"
      s"""SELECT t.trow AS row, t.tcol AS col, g.b2, g.b5
         |FROM (SELECT CAST(range // ${UtmG.width} AS BIGINT) AS trow,
         |             CAST(range % ${UtmG.width} AS BIGINT) AS tcol,
         |             $srow AS srow, $scol AS scol
         |      FROM range(${UtmG.cells})) t
         |LEFT JOIN (SELECT row, col,
         |    ${RasterStack.NcBands.filter(b => Set("b2", "b5")(b.name)).map(b => RasterStack.bandSql("row", "col", b) + s" AS ${b.name}").mkString(", ")}
         |  FROM ${RasterStack.gridSql(UtmSrcG)}) g
         |ON g.row = t.srow AND g.col = t.scol""".stripMargin
    },

    "q74_warp_utm_average" -> {
      import OracleLit.d
      val fwd = Warp.LonLatToUtm(31, north = true)
      val x = RasterStack.xSql(UtmSrcG); val y = RasterStack.ySql(UtmSrcG)
      val fx = fwd.sxSql(x, y); val fy = fwd.sySql(x, y)
      val trow = s"CAST(FLOOR(($fy - ${d(UtmG.f)}) / (${d(UtmG.e)})) AS BIGINT)"
      val tcol = s"CAST(FLOOR(($fx - ${d(UtmG.c)}) / (${d(UtmG.a)})) AS BIGINT)"
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(UtmSrcG)})"
      s"""SELECT t.row, t.col,
         | CASE WHEN s.c1 > 0 THEN s.s1 / s.c1 END AS b1,
         | CASE WHEN s.c4 > 0 THEN s.s4 / s.c4 END AS b4
         |FROM ${RasterStack.gridSql(UtmG)} t
         |LEFT JOIN (
         | SELECT trow, tcol, SUM(b1) AS s1, COUNT(b1) AS c1, SUM(b4) AS s4, COUNT(b4) AS c4
         | FROM (SELECT $trow AS trow, $tcol AS tcol, b1, b4 FROM $pix)
         | WHERE trow >= 0 AND trow < ${UtmG.height} AND tcol >= 0 AND tcol < ${UtmG.width}
         | GROUP BY 1, 2) s
         |ON s.trow = t.row AND s.tcol = t.col""".stripMargin
    },

    "q78_to_crs_lcc" -> {
      val tx = RasterStack.xSql(LccG, "tcol"); val ty = RasterStack.ySql(LccG, "trow")
      val sx = LccCrs.sxSql(tx, ty)
      val sy = LccCrs.sySql(tx, ty)
      val srow = s"CAST(FLOOR(($sy - ${OracleLit.d(LccSrcG.f)}) / (${OracleLit.d(LccSrcG.e)})) AS BIGINT)"
      val scol = s"CAST(FLOOR(($sx - ${OracleLit.d(LccSrcG.c)}) / (${OracleLit.d(LccSrcG.a)})) AS BIGINT)"
      s"""SELECT t.trow AS row, t.tcol AS col, g.b2, g.b5
         |FROM (SELECT CAST(range // ${LccG.width} AS BIGINT) AS trow,
         |             CAST(range % ${LccG.width} AS BIGINT) AS tcol,
         |             $srow AS srow, $scol AS scol
         |      FROM range(${LccG.cells})) t
         |LEFT JOIN (SELECT row, col,
         |    ${RasterStack.NcBands.filter(b => Set("b2", "b5")(b.name)).map(b => RasterStack.bandSql("row", "col", b) + s" AS ${b.name}").mkString(", ")}
         |  FROM ${RasterStack.gridSql(LccSrcG)}) g
         |ON g.row = t.srow AND g.col = t.scol""".stripMargin
    },

    "q79_warp_lcc_sum" -> {
      import OracleLit.d
      val fwd = Warp.LonLatToLcc(graft.operators.Lcc.Lambert93, "EPSG:2154")
      val x = RasterStack.xSql(LccSrcG); val y = RasterStack.ySql(LccSrcG)
      val fx = fwd.sxSql(x, y); val fy = fwd.sySql(x, y)
      val trow = s"CAST(FLOOR(($fy - ${d(LccG.f)}) / (${d(LccG.e)})) AS BIGINT)"
      val tcol = s"CAST(FLOOR(($fx - ${d(LccG.c)}) / (${d(LccG.a)})) AS BIGINT)"
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(LccSrcG)})"
      s"""SELECT t.row, t.col, s.s1 AS b1, s.s4 AS b4
         |FROM ${RasterStack.gridSql(LccG)} t
         |LEFT JOIN (
         | SELECT trow, tcol, SUM(b1) AS s1, SUM(b4) AS s4
         | FROM (SELECT $trow AS trow, $tcol AS tcol, b1, b4 FROM $pix)
         | WHERE trow >= 0 AND trow < ${LccG.height} AND tcol >= 0 AND tcol < ${LccG.width}
         | GROUP BY 1, 2) s
         |ON s.trow = t.row AND s.tcol = t.col""".stripMargin
    },

    "q82_to_crs_ps" -> {
      val tx = RasterStack.xSql(PsG, "tcol"); val ty = RasterStack.ySql(PsG, "trow")
      val sx = PsCrs.sxSql(tx, ty)
      val sy = PsCrs.sySql(tx, ty)
      val srow = s"CAST(FLOOR(($sy - ${OracleLit.d(PsSrcG.f)}) / (${OracleLit.d(PsSrcG.e)})) AS BIGINT)"
      val scol = s"CAST(FLOOR(($sx - ${OracleLit.d(PsSrcG.c)}) / (${OracleLit.d(PsSrcG.a)})) AS BIGINT)"
      s"""SELECT t.trow AS row, t.tcol AS col, g.b2, g.b5
         |FROM (SELECT CAST(range // ${PsG.width} AS BIGINT) AS trow,
         |             CAST(range % ${PsG.width} AS BIGINT) AS tcol,
         |             $srow AS srow, $scol AS scol
         |      FROM range(${PsG.cells})) t
         |LEFT JOIN (SELECT row, col,
         |    ${RasterStack.NcBands.filter(b => Set("b2", "b5")(b.name)).map(b => RasterStack.bandSql("row", "col", b) + s" AS ${b.name}").mkString(", ")}
         |  FROM ${RasterStack.gridSql(PsSrcG)}) g
         |ON g.row = t.srow AND g.col = t.scol""".stripMargin
    },

    "q83_warp_ps_max" -> {
      import OracleLit.d
      val fwd = Warp.LonLatToPs(graft.operators.PolarStereo.Epsg3413, "EPSG:3413")
      val x = RasterStack.xSql(PsSrcG); val y = RasterStack.ySql(PsSrcG)
      val fx = fwd.sxSql(x, y); val fy = fwd.sySql(x, y)
      val trow = s"CAST(FLOOR(($fy - ${d(PsG.f)}) / (${d(PsG.e)})) AS BIGINT)"
      val tcol = s"CAST(FLOOR(($fx - ${d(PsG.c)}) / (${d(PsG.a)})) AS BIGINT)"
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(PsSrcG)})"
      s"""SELECT t.row, t.col, s.m1 AS b1, s.m4 AS b4
         |FROM ${RasterStack.gridSql(PsG)} t
         |LEFT JOIN (
         | SELECT trow, tcol, MAX(b1) AS m1, MAX(b4) AS m4
         | FROM (SELECT $trow AS trow, $tcol AS tcol, b1, b4 FROM $pix)
         | WHERE trow >= 0 AND trow < ${PsG.height} AND tcol >= 0 AND tcol < ${PsG.width}
         | GROUP BY 1, 2) s
         |ON s.trow = t.row AND s.tcol = t.col""".stripMargin
    },

    "q84_to_crs_albers" -> {
      val tx = RasterStack.xSql(AeaG, "tcol"); val ty = RasterStack.ySql(AeaG, "trow")
      val sx = AeaCrs.sxSql(tx, ty)
      val sy = AeaCrs.sySql(tx, ty)
      val srow = s"CAST(FLOOR(($sy - ${OracleLit.d(AeaSrcG.f)}) / (${OracleLit.d(AeaSrcG.e)})) AS BIGINT)"
      val scol = s"CAST(FLOOR(($sx - ${OracleLit.d(AeaSrcG.c)}) / (${OracleLit.d(AeaSrcG.a)})) AS BIGINT)"
      s"""SELECT t.trow AS row, t.tcol AS col, g.b2, g.b5
         |FROM (SELECT CAST(range // ${AeaG.width} AS BIGINT) AS trow,
         |             CAST(range % ${AeaG.width} AS BIGINT) AS tcol,
         |             $srow AS srow, $scol AS scol
         |      FROM range(${AeaG.cells})) t
         |LEFT JOIN (SELECT row, col,
         |    ${RasterStack.NcBands.filter(b => Set("b2", "b5")(b.name)).map(b => RasterStack.bandSql("row", "col", b) + s" AS ${b.name}").mkString(", ")}
         |  FROM ${RasterStack.gridSql(AeaSrcG)}) g
         |ON g.row = t.srow AND g.col = t.scol""".stripMargin
    },

    "q85_warp_albers_rms" -> {
      import OracleLit.d
      val fwd = Warp.LonLatToAlbers(graft.operators.Albers.Conus, "EPSG:5070")
      val x = RasterStack.xSql(AeaSrcG); val y = RasterStack.ySql(AeaSrcG)
      val fx = fwd.sxSql(x, y); val fy = fwd.sySql(x, y)
      val trow = s"CAST(FLOOR(($fy - ${d(AeaG.f)}) / (${d(AeaG.e)})) AS BIGINT)"
      val tcol = s"CAST(FLOOR(($fx - ${d(AeaG.c)}) / (${d(AeaG.a)})) AS BIGINT)"
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(AeaSrcG)})"
      s"""SELECT t.row, t.col, s.r1 AS b1, s.r4 AS b4
         |FROM ${RasterStack.gridSql(AeaG)} t
         |LEFT JOIN (
         | SELECT trow, tcol,
         |   CASE WHEN COUNT(b1) > 0 THEN SQRT(SUM(b1 * b1) / COUNT(b1)) END AS r1,
         |   CASE WHEN COUNT(b4) > 0 THEN SQRT(SUM(b4 * b4) / COUNT(b4)) END AS r4
         | FROM (SELECT $trow AS trow, $tcol AS tcol, b1, b4 FROM $pix)
         | WHERE trow >= 0 AND trow < ${AeaG.height} AND tcol >= 0 AND tcol < ${AeaG.width}
         | GROUP BY 1, 2) s
         |ON s.trow = t.row AND s.tcol = t.col""".stripMargin
    },

    "q49_to_crs_mercator" -> {
      val tx = RasterStack.xSql(MercG, "tcol"); val ty = RasterStack.ySql(MercG, "trow")
      val sx = Warp.MercatorToLonLat.sxSql(tx, ty)
      val sy = Warp.MercatorToLonLat.sySql(tx, ty)
      val srow = s"CAST(FLOOR(($sy - ${OracleLit.d(G.f)}) / (${OracleLit.d(G.e)})) AS BIGINT)"
      val scol = s"CAST(FLOOR(($sx - ${OracleLit.d(G.c)}) / (${OracleLit.d(G.a)})) AS BIGINT)"
      s"""SELECT t.trow AS row, t.tcol AS col, g.b2, g.b5
         |FROM (SELECT CAST(range // ${MercG.width} AS BIGINT) AS trow,
         |             CAST(range % ${MercG.width} AS BIGINT) AS tcol,
         |             $srow AS srow, $scol AS scol
         |      FROM range(${MercG.cells})) t
         |LEFT JOIN (SELECT row, col,
         |    ${RasterStack.NcBands.filter(b => Set("b2", "b5")(b.name)).map(b => RasterStack.bandSql("row", "col", b) + s" AS ${b.name}").mkString(", ")}
         |  FROM ${RasterStack.gridSql(G)}) g
         |ON g.row = t.srow AND g.col = t.scol""".stripMargin
    },

    "q112_to_crs_bng" -> {
      val tx = RasterStack.xSql(BngG, "tcol"); val ty = RasterStack.ySql(BngG, "trow")
      val inner =
        s"""SELECT CAST(range // ${BngG.width} AS BIGINT) AS trow,
           |       CAST(range % ${BngG.width} AS BIGINT) AS tcol,
           |       $tx AS tx, $ty AS ty FROM range(${BngG.cells})""".stripMargin
      val staged = BngCrs.stagedSql(inner, "tx", "ty", Seq("trow", "tcol"), "lonx", "laty")
      val srow = s"CAST(FLOOR((laty - ${OracleLit.d(BngSrcG.f)}) / (${OracleLit.d(BngSrcG.e)})) AS BIGINT)"
      val scol = s"CAST(FLOOR((lonx - ${OracleLit.d(BngSrcG.c)}) / (${OracleLit.d(BngSrcG.a)})) AS BIGINT)"
      s"""SELECT t.trow AS row, t.tcol AS col, g.b2, g.b5
         |FROM (SELECT trow, tcol, $srow AS srow, $scol AS scol FROM ($staged)) t
         |LEFT JOIN (SELECT row, col,
         |    ${RasterStack.NcBands.filter(b => Set("b2", "b5")(b.name)).map(b => RasterStack.bandSql("row", "col", b) + s" AS ${b.name}").mkString(", ")}
         |  FROM ${RasterStack.gridSql(BngSrcG)}) g
         |ON g.row = t.srow AND g.col = t.scol""".stripMargin
    },

    "q113_warp_nztm_min" -> {
      import OracleLit.d
      val fwd = NztmCrs.inverse.asInstanceOf[graft.operators.Epsg.LonLatToTmerc]
      val x = RasterStack.xSql(NztmSrcG); val y = RasterStack.ySql(NztmSrcG)
      val fx = fwd.sxSql(x, y); val fy = fwd.sySql(x, y)
      val trow = s"CAST(FLOOR(($fy - ${d(NztmG.f)}) / (${d(NztmG.e)})) AS BIGINT)"
      val tcol = s"CAST(FLOOR(($fx - ${d(NztmG.c)}) / (${d(NztmG.a)})) AS BIGINT)"
      val pix = s"(SELECT row, col, ${Seq("b1", "b4").map(n => RasterStack.bandSql("row", "col", RasterStack.NcBands.find(_.name == n).get) + s" AS $n").mkString(", ")} FROM ${RasterStack.gridSql(NztmSrcG)})"
      s"""SELECT t.row, t.col, s.m1 AS b1, s.m4 AS b4
         |FROM ${RasterStack.gridSql(NztmG)} t
         |LEFT JOIN (
         | SELECT trow, tcol, MIN(b1) AS m1, MIN(b4) AS m4
         | FROM (SELECT $trow AS trow, $tcol AS tcol, b1, b4 FROM $pix)
         | WHERE trow >= 0 AND trow < ${NztmG.height} AND tcol >= 0 AND tcol < ${NztmG.width}
         | GROUP BY 1, 2) s
         |ON s.trow = t.row AND s.tcol = t.col""".stripMargin
    }
  )
}
