package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.GridMeta
import Utm.Ar

/**
 * Focal (moving-window) raster operators over the dense (row, col)
 * pixel relation: 3×3 box statistics, Horn gradient / slope / aspect,
 * and analytic hillshade — the terrain-derivative family a geospatial
 * ML pipeline feeds into `predict` as extra layers (the reference
 * reaches these through rasterio/gdaldem pre-processing; here they are
 * first-class operators).
 *
 * Scale design — SEPARABLE two-pass windows, never a 9-way self-join:
 * every 3×3 kernel used here factors as an outer product (box
 * [1,1,1]ᵀ[1,1,1]; Horn's smoothing [1,2,1] against the central
 * difference [-1,0,1]), so the 2-D convolution is two 1-D sliding
 * frames: pass 1 partitions by `row` ordered by `col` (horizontal),
 * pass 2 by `col` ordered by `row` (vertical). Each pass is ONE hash
 * shuffle of the raster and an O(1)-per-pixel sliding frame — the
 * 8-neighbor equi-join alternative shuffles 9× the raster volume and
 * builds a hash table per tile. Partition keys are dense grid lines:
 * uniform by construction, no skew, and a 100k×100k raster puts a
 * bounded ~100k pixels in each window partition. Full Horn needs one
 * more horizontal pass over the vertical sums (3 shuffles total);
 * plain box stats need 2.
 *
 * Exactness contract: band values are integral doubles (the fixture
 * invariant), so every numerator is accumulated as LONG — order-free
 * under any partitioning in any engine — and each derived value
 * applies ONE final double chain written over [[Utm.Ar]] so the
 * engine and the DuckDB oracle evaluate the identical IEEE op order
 * (ATAN/SQRT are the bit-verified primitives; aspect's full-quadrant
 * atan2 composes from them, [[PolarStereo.atan2F]]). Hillshade's
 * per-row SIN/COS carry DuckDB's known 1-ulp SIN variance, so q92
 * ships `floor(×1e3)`-quantized values.
 *
 * Border / null semantics: frames shrink at raster borders, so
 * `focal_mean` averages the cells that exist; gradient values are
 * gated on ALL 9 cells present (`c9 = 9`) and are NULL at borders and
 * beside any nodata cell — the conservative gdaldem-style contract.
 */
object Focal {

  private val hWin = Window.partitionBy("row").orderBy("col").rowsBetween(-1, 1)
  private val vWin = Window.partitionBy("col").orderBy("row").rowsBetween(-1, 1)
  private val hOrd = Window.partitionBy("row").orderBy("col")
  private val vOrd = Window.partitionBy("col").orderBy("row")

  /**
   * 3×3 box statistics for integral band `b`: adds `sum9` (LONG sum of
   * the present neighbors incl. centre), `c9` (how many of the ≤9 are
   * present), `focal_mean` (one double division; NULL when all 9 are
   * nodata). Two shuffles (row-pass then col-pass).
   */
  def stats3x3(px: DataFrame, b: String): DataFrame = {
    val bl = col(b).cast("long")
    px.withColumn("_hs", sum(bl).over(hWin))
      .withColumn("_hc", count(col(b)).over(hWin))
      .withColumn("sum9", sum(col("_hs")).over(vWin))
      .withColumn("c9", sum(col("_hc")).over(vWin))
      .withColumn("focal_mean",
        col("sum9").cast("double") / col("c9").cast("double"))
      .drop("_hs", "_hc")
  }

  /**
   * 3×3 focal min/max/range — like every kernel here, SEPARABLE (the
   * max of a 3×3 window is the max of the three row-maxes), so two
   * window shuffles. Borders shrink; all-nodata windows yield NULL;
   * `focal_range` is the local relief (max − min), exact on integral
   * bands.
   */
  def minmax3x3(px: DataFrame, b: String): DataFrame =
    px.withColumn("_hmin", min(col(b)).over(hWin))
      .withColumn("_hmax", max(col(b)).over(hWin))
      .withColumn("focal_min", min(col("_hmin")).over(vWin))
      .withColumn("focal_max", max(col("_hmax")).over(vWin))
      .withColumn("focal_range", col("focal_max") - col("focal_min"))
      .drop("_hmin", "_hmax")

  /**
   * Horn gradient numerators + slope + aspect for integral band `b`.
   * `gx_num` = [1,2,1]-smoothed central difference along `col`
   * (positive toward +col/east), `gy_num` along `row` (positive toward
   * +row, i.e. grid-south for north-up rasters) — both exact LONGs,
   * NULL unless all 9 cells are present. `slope` =
   * atan(√((gx_num/8Δx)² + (gy_num/8Δy)²)) radians with Δx/Δy the
   * grid resolution; `aspect` = full-quadrant atan2(gy, gx) radians in
   * (-π, π], grid orientation, 0 at +col/east (documented engine
   * convention; the (0,0) flat case maps to 0 deterministically).
   */
  def horn(px: DataFrame, b: String, g: GridMeta): DataFrame = {
    val bl = col(b).cast("long")
    val (xres, yres) = g.resolution
    val p1 = px.withColumn("_bl", bl)
      .withColumn("_hs", sum(col("_bl")).over(hWin))
      .withColumn("_hc", count(col(b)).over(hWin))
    val p2 = p1
      .withColumn("_vs", sum(col("_bl")).over(vWin))
      .withColumn("c9", sum(col("_hc")).over(vWin))
      .withColumn("_gy", lead(col("_hs") + col("_bl"), 1).over(vOrd) -
        lag(col("_hs") + col("_bl"), 1).over(vOrd))
    val p3 = p2
      .withColumn("_gx", lead(col("_vs") + col("_bl"), 1).over(hOrd) -
        lag(col("_vs") + col("_bl"), 1).over(hOrd))
    val all9 = col("c9") === 9
    val (slope, aspect) = slopeAspect[Column](
      when(all9, col("_gx")).cast("double"),
      when(all9, col("_gy")).cast("double"), xres, yres)(Utm.ColAr)
    // slope propagates NULL through its ATAN(SQRT(...)) chain, but the
    // composed atan2's terminal else is 0.0 — gate aspect explicitly so
    // borders/nodata stay NULL (the oracle carries the same CASE).
    p3.withColumn("gx_num", when(all9, col("_gx")))
      .withColumn("gy_num", when(all9, col("_gy")))
      .withColumn("slope", slope)
      .withColumn("aspect", when(all9, aspect))
      .drop("_bl", "_hs", "_hc", "_vs", "_gy", "_gx")
  }

  /**
   * 5×5 binomial Gaussian smoothing ([1,4,6,4,1] ⊗ [1,4,6,4,1], the
   * discrete σ=1 kernel): renormalizing weighted mean where nodata and
   * off-raster cells drop out of BOTH the numerator and the weight
   * total. Both are separable despite the renormalization, because the
   * 2-D weight is the product w_r·w_c: pass 1 takes the vertical
   * weighted sums of value (nulls → 0) and of the presence indicator,
   * pass 2 the horizontal weighted sums of those — two shuffles, exact
   * LONG numerators, ONE final division (`CASE WHEN wt > 0`).
   * Per-pass sums are lag/lead arithmetic (`6x + 4(x±1) + x±2`), not
   * frame SUMs, so the kernel weights generalize beyond box filters.
   */
  def gauss5(px: DataFrame, b: String): DataFrame = {
    def wsum(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
      lit(6L) * c + lit(4L) * (lag(c, 1, 0L).over(w) + lead(c, 1, 0L).over(w)) +
        lag(c, 2, 0L).over(w) + lead(c, 2, 0L).over(w)
    val p1 = px
      .withColumn("_x", coalesce(col(b).cast("long"), lit(0L)))
      .withColumn("_p", when(col(b).isNotNull, 1L).otherwise(0L))
      .withColumn("_vn", wsum(col("_x"), vOrd))
      .withColumn("_vw", wsum(col("_p"), vOrd))
    p1.withColumn("g5num", wsum(col("_vn"), hOrd))
      .withColumn("g5wt", wsum(col("_vw"), hOrd))
      .withColumn("gauss5", when(col("g5wt") > 0L,
        col("g5num").cast("double") / col("g5wt").cast("double")))
      .drop("_x", "_p", "_vn", "_vw")
  }

  /**
   * Zevenbergen–Thorne (1987) curvature family: total, profile and
   * plan curvature from the 3×3 quadric fit. All five partials are
   * SECOND/first differences — exact LONG numerators via the same
   * separable lag/lead plumbing as [[gauss5]] (two shuffles):
   *   zxx_num = Z₄+Z₆−2Z₅   (horizontal [1,−2,1])
   *   zyy_num = Z₂+Z₈−2Z₅   (vertical [1,−2,1])
   *   zxy_num = cross difference (central-x then central-y)
   *   dx1/dy1 = central first differences (Z-T's G/H numerators)
   * with +row = grid-south (the [[horn]] convention). Values are gated
   * on all-9-present (`c9 = 9`, NULL at borders/nodata); `prof`/`plan`
   * are additionally NULL on flat cells (G²+H² = 0), where they are
   * undefined. The double chains are pure +−×÷ in one shared [[Ar]]
   * order (no transcendentals), so outputs ship unquantized and the
   * DuckDB twin is bit-exact.
   */
  def curvature(px: DataFrame, b: String, g: GridMeta): DataFrame = {
    val bl = col(b).cast("long")
    val (xres, yres) = g.resolution
    val p1 = px.withColumn("_bl", bl)
      .withColumn("_hc", count(col(b)).over(hWin))
      .withColumn("_dxx",
        lag(col("_bl"), 1).over(hOrd) + lead(col("_bl"), 1).over(hOrd) -
          lit(2L) * col("_bl"))
      .withColumn("_dx1",
        lead(col("_bl"), 1).over(hOrd) - lag(col("_bl"), 1).over(hOrd))
    val p2 = p1
      .withColumn("c9", sum(col("_hc")).over(vWin))
      .withColumn("_dyy",
        lag(col("_bl"), 1).over(vOrd) + lead(col("_bl"), 1).over(vOrd) -
          lit(2L) * col("_bl"))
      .withColumn("_dy1",
        lead(col("_bl"), 1).over(vOrd) - lag(col("_bl"), 1).over(vOrd))
      .withColumn("_dxy",
        lead(col("_dx1"), 1).over(vOrd) - lag(col("_dx1"), 1).over(vOrd))
    val all9 = col("c9") === 9
    def gd(c: Column): Column = when(all9, c).cast("double")
    val (total, profNum, planNum, p) = curvatureParts[Column](
      gd(col("_dxx")), gd(col("_dyy")), gd(col("_dxy")),
      gd(col("_dx1")), gd(col("_dy1")), xres, yres)(Utm.ColAr)
    p2.withColumn("zxx_num", when(all9, col("_dxx")))
      .withColumn("zyy_num", when(all9, col("_dyy")))
      .withColumn("zxy_num", when(all9, col("_dxy")))
      .withColumn("curv", total)
      .withColumn("prof", when(p > lit(0.0), profNum / p))
      .withColumn("plan", when(p > lit(0.0), planNum / p))
      .drop("_bl", "_hc", "_dxx", "_dx1", "_dyy", "_dy1", "_dxy")
  }

  /**
   * 3×3 focal majority (modal) filter for a small-cardinality
   * categorical band — the classification-smoothing pass that follows
   * `predict` (gdal sieve/majority analogue). Mode is not separable in
   * general, but with K known categories it decomposes into K
   * indicator box-counts, and ALL K ride the SAME two window shuffles
   * (multiple window expressions over one WindowSpec share the
   * Exchange) — so the cost is two shuffles regardless of K, never a
   * 9-way self-join. Ties break to the smallest category; cells whose
   * window holds no categorized pixel (all nodata) get NULL. Border
   * windows shrink (majority over the cells that exist), matching
   * [[stats3x3]].
   */
  def majority3x3(px: DataFrame, catCol: String, nCats: Int): DataFrame = {
    require(nCats >= 2 && nCats <= 16,
      s"majority3x3 is the small-K categorical path (got $nCats)")
    val h = (0 until nCats).foldLeft(px) { (d, k) =>
      d.withColumn(s"_h$k",
        sum(when(col(catCol) === k, 1L).otherwise(0L)).over(hWin))
    }
    val v = (0 until nCats).foldLeft(h) { (d, k) =>
      d.withColumn(s"_c$k", sum(col(s"_h$k")).over(vWin))
    }
    val (bestCnt, bestCat) = (1 until nCats)
      .foldLeft((col("_c0"), lit(0))) { case ((bc, bk), k) =>
        (when(col(s"_c$k") > bc, col(s"_c$k")).otherwise(bc),
          when(col(s"_c$k") > bc, lit(k)).otherwise(bk))
      }
    v.withColumn("maj_cnt", bestCnt)
      .withColumn("majority", when(bestCnt > 0L, bestCat.cast("long")))
      .drop((0 until nCats).flatMap(k => Seq(s"_h$k", s"_c$k")): _*)
  }

  /**
   * Z-T curvature arithmetic over [[Ar]] (one definition, both
   * engines): returns (total, prof_numerator, plan_numerator, p) with
   * D = zxx/(2Δx²), E = zyy/(2Δy²), F = zxy/(4ΔxΔy), G = dx1/(2Δx),
   * H = dy1/(2Δy), p = G²+H²,
   *   total = −200(D+E)             (the ×100 gdaldem convention)
   *   prof  = −200(DG² + EH² + FGH) / p
   *   plan  =  200(DH² + EG² − FGH) / p
   * The caller applies the `p > 0` gate and the division (engine-local
   * CASE/when; IEEE ÷ of identical operands is deterministic).
   */
  def curvatureParts[T](zxx: T, zyy: T, zxy: T, dx1: T, dy1: T,
                        xres: Double, yres: Double)
                       (implicit F: Ar[T]): (T, T, T, T) = {
    val d = F.div(zxx, F.lit(2.0 * xres * xres))
    val e = F.div(zyy, F.lit(2.0 * yres * yres))
    val f = F.div(zxy, F.lit(4.0 * xres * yres))
    val gg = F.div(dx1, F.lit(2.0 * xres))
    val hh = F.div(dy1, F.lit(2.0 * yres))
    val g2 = F.mul(gg, gg)
    val h2 = F.mul(hh, hh)
    val p = F.add(g2, h2)
    val fgh = F.mul(f, F.mul(gg, hh))
    val total = F.mul(F.lit(-200.0), F.add(d, e))
    val profNum = F.mul(F.lit(-200.0),
      F.add(F.add(F.mul(d, g2), F.mul(e, h2)), fgh))
    val planNum = F.mul(F.lit(200.0),
      F.sub(F.add(F.mul(d, h2), F.mul(e, g2)), fgh))
    (total, profNum, planNum, p)
  }

  /** SQL twin of [[curvatureParts]] over gated numerator texts. */
  def curvatureSql(zxx: String, zyy: String, zxy: String,
                   dx1: String, dy1: String,
                   xres: Double, yres: Double): (String, String, String, String) =
    curvatureParts[String](zxx, zyy, zxy, dx1, dy1, xres, yres)(Utm.SqlAr)

  /** Slope/aspect from the Horn numerators, written ONCE over [[Ar]]
    * so engine and oracle share the IEEE op order. Inputs are the
    * already-gated numerators cast to double (NULL propagates). */
  def slopeAspect[T](gxNum: T, gyNum: T, xres: Double, yres: Double)
                    (implicit F: Ar[T]): (T, T) = {
    val gx = F.div(gxNum, F.lit(8.0 * xres))
    val gy = F.div(gyNum, F.lit(8.0 * yres))
    (F.atan(F.sqrt(F.add(F.mul(gx, gx), F.mul(gy, gy)))),
      PolarStereo.atan2F(gy, gx))
  }

  /** SQL twin of the slope/aspect columns over numerator expressions
    * (the oracle passes `CAST(gx_num AS DOUBLE)` texts). */
  def slopeAspectSql(gxNum: String, gyNum: String,
                     xres: Double, yres: Double): (String, String) =
    slopeAspect[String](gxNum, gyNum, xres, yres)(Utm.SqlAr)

  /**
   * D8 flow-direction codes and their (Δrow, Δcol, distance) in the
   * grid convention (+row = grid-south): the ESRI power-of-two codes
   * E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64, NE=128, ordered ASCENDING
   * so the strict-> fold's tie-break is deterministic (smallest code
   * wins an equal-drop tie — both engines evaluate the identical CASE
   * chain, so the tie-break is shared by construction).
   */
  val D8Codes: Seq[(Int, Int, Int, Double)] = Seq(
    (1, 0, 1, 1.0), (2, 1, 1, math.sqrt(2.0)), (4, 1, 0, 1.0),
    (8, 1, -1, math.sqrt(2.0)), (16, 0, -1, 1.0),
    (32, -1, -1, math.sqrt(2.0)), (64, -1, 0, 1.0),
    (128, -1, 1, math.sqrt(2.0)))

  /** Distance-weighted drop toward one neighbor, over [[Ar]] (one
    * definition, both engines): (z − zn) / dist. Band values are
    * integral doubles, so the subtraction is exact and the single ÷ is
    * the only rounding — identical IEEE ops in Spark and DuckDB, no
    * quantization needed. A missing neighbor (NULL zn) propagates NULL. */
  def d8Drop[T](z: T, zn: T, dist: Double)(implicit F: Ar[T]): T =
    F.div(F.sub(z, zn), F.lit(dist))

  /**
   * Argmax CASE chain over the 8 named drop expressions, over [[Ar]]:
   * returns (code, drop) where `code` is the D8 code of the strictly
   * steepest positive drop (0.0 when no neighbor is lower — pit/flat)
   * and `drop` is that steepest drop (0.0 likewise). NULL drops
   * (missing neighbors at borders / beside nodata) compare false and
   * are skipped, so border cells route among the neighbors that exist.
   * Each step reads the previous best drop twice in its own CASE and
   * once more in the code's, so an inline fold copies the accumulators
   * at every step and the tree doubles eight times. `bind` names each
   * step's (code, drop) pair as it is made: the engine binds them to
   * columns, so the next step refers to them instead of copying them;
   * the default (identity) inlines, which the SQL twin's text keeps.
   */
  def d8Parts[T](drops: Seq[(Int, T)],
                 bind: (Int, T, T) => (T, T) = (_: Int, c: T, d: T) => (c, d))
                (implicit F: Ar[T]): (T, T) =
    drops.foldLeft((F.lit(0.0), F.lit(0.0))) { case ((bestCode, bestDrop), (code, d)) =>
      bind(code, F.gt(d, bestDrop, F.lit(code.toDouble), bestCode),
        F.gt(d, bestDrop, d, bestDrop))
    }

  /**
   * D8 steepest-descent flow direction for integral band `b` — the
   * hydrology primitive (gdal/ESRI FlowDirection analogue) feeding
   * flow-accumulation / watershed pipelines. Adds `d8_dir` (LONG code,
   * 0 for pits/flats, NULL where the cell itself is nodata) and
   * `d8_drop` (the winning distance-weighted drop, raw double).
   *
   * Scale design — the full 8-neighbor GATHER in exactly two window
   * shuffles (never an 8-way self-join): pass 1 (by `row` ordered by
   * `col`) carries each cell's W/E values alongside it; pass 2 (by
   * `col` ordered by `row`) lags/leads those three columns one row in
   * each direction — six vertical window expressions sharing ONE
   * Exchange. Same plumbing cost as [[stats3x3]] on a raster of any
   * width; partition keys are dense grid lines (uniform, no skew).
   */
  def d8(px: DataFrame, b: String): DataFrame = {
    val p1 = px
      .withColumn("_w", lag(col(b), 1).over(hOrd))
      .withColumn("_e", lead(col(b), 1).over(hOrd))
    val p2 = p1
      .withColumn("_n", lag(col(b), 1).over(vOrd))
      .withColumn("_s", lead(col(b), 1).over(vOrd))
      .withColumn("_nw", lag(col("_w"), 1).over(vOrd))
      .withColumn("_ne", lag(col("_e"), 1).over(vOrd))
      .withColumn("_sw", lead(col("_w"), 1).over(vOrd))
      .withColumn("_se", lead(col("_e"), 1).over(vOrd))
    val nbr = Map(
      1 -> "_e", 2 -> "_se", 4 -> "_s", 8 -> "_sw",
      16 -> "_w", 32 -> "_nw", 64 -> "_n", 128 -> "_ne")
    val p3 = D8Codes.foldLeft(p2) { case (d, (code, _, _, dist)) =>
      d.withColumn(s"_d$code",
        d8Drop[Column](col(b), col(nbr(code)), dist)(Utm.ColAr))
    }
    // one projection per fold step: the step's pair becomes two columns
    var p4 = p3
    val (dirD, dropD) = d8Parts[Column](
      D8Codes.map { case (code, _, _, _) => code -> col(s"_d$code") },
      (code, c, d) => {
        p4 = p4.withColumns(Map(s"_bc$code" -> c, s"_bd$code" -> d))
        (col(s"_bc$code"), col(s"_bd$code"))
      })(Utm.ColAr)
    p4.withColumn("d8_dir", when(col(b).isNotNull, dirD.cast("long")))
      .withColumn("d8_drop", when(col(b).isNotNull, dropD))
      .drop(nbr.values.toSeq ++ D8Codes.flatMap { case (code, _, _, _) =>
        Seq(s"_d$code", s"_bc$code", s"_bd$code") }: _*)
  }

  /** SQL twins of the D8 pieces over drop-column names. */
  def d8DropSql(z: String, zn: String, dist: Double): String =
    d8Drop[String](z, zn, dist)(Utm.SqlAr)
  def d8PartsSql(drops: Seq[(Int, String)]): (String, String) =
    d8Parts[String](drops)(Utm.SqlAr)

  /**
   * Analytic hillshade from slope+aspect (Lambertian):
   * `cos(zen)·cos(slope) + sin(zen)·sin(slope)·cos(azRad − aspect)`,
   * scaled ×255. `azDeg` is measured in the same grid convention as
   * [[horn]]'s aspect (0 = +col/east, counter-clockwise positive).
   * The sun-vector constants fold to plain double literals on the
   * driver, so per-row work is two SIN/COS of slope and one COS of the
   * aspect difference.
   */
  def hillshade[T](slope: T, aspect: T, azDeg: Double = 315.0,
                   zenDeg: Double = 45.0)(implicit F: Ar[T]): T = {
    val zen = math.toRadians(zenDeg)
    val az = math.toRadians(azDeg)
    F.mul(F.lit(255.0),
      F.add(F.mul(F.lit(math.cos(zen)), F.cos(slope)),
        F.mul(F.mul(F.lit(math.sin(zen)), F.sin(slope)),
          F.cos(F.sub(F.lit(az), aspect)))))
  }
}
