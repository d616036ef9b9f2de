package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GridMeta
import graft.functions._
import graft.operators.{Extract, Predict, Stack}
import graft.sources.{Fixtures, RasterStack}

/**
 * Oracle-checked queries for the Stack operator family (SURVEY.md §2.2,
 * §2.4, §2.6, §2.8, §2.10). Every oracle is bit-exact: outputs are
 * integer-exact sums/counts, pointwise IEEE arithmetic in identical
 * evaluation order, or deterministic integer ranks.
 */
object StackQueries {

  val G: GridMeta = GridMeta.TestGrid
  import RasterStack.{NcBands, bandSql, gridSql, xSql, ySql}

  def stack(s: SparkSession): Stack =
    Stack(RasterStack.stack(s, G).drop("x", "y"), G, NcBands.map(_.name))

  /** SQL pixel+bands relation. */
  private val pixSql: String =
    s"(SELECT row, col, ${NcBands.map(b => bandSql("row", "col", b) + s" AS ${b.name}").mkString(", ")} FROM ${gridSql(G)})"

  /** SQL pixel relation with world center coords. */
  private val pixXySql: String =
    s"(SELECT *, ${xSql(G)} AS x, ${ySql(G)} AS y FROM $pixSql)"

  private def maskKeepSql(invert: Boolean): String = {
    val inside = Fixtures.Rects.map(r => Fixtures.rectSql(r, "x", "y")).mkString("(", " OR ", ")")
    if (invert) s"NOT $inside" else inside
  }

  // derived mean/std from integer-exact sums — identical formula both engines
  private def statCols(n: String) = Seq(
    col(s"${n}_count"), col(s"${n}_min"), col(s"${n}_max"), col(s"${n}_sum"),
    (col(s"${n}_sum") / col(s"${n}_count")).as(s"${n}_mean"),
    sqrt((col(s"${n}_sumsq") - col(s"${n}_sum") * col(s"${n}_sum") / col(s"${n}_count")) / col(s"${n}_count")).as(s"${n}_std"))

  private def statSql(n: String) = Seq(
    s"COUNT($n) AS ${n}_count", s"MIN($n) AS ${n}_min", s"MAX($n) AS ${n}_max",
    s"SUM($n) AS ${n}_sum", s"SUM($n) / COUNT($n) AS ${n}_mean",
    s"SQRT((SUM($n*$n) - SUM($n) * SUM($n) / COUNT($n)) / COUNT($n)) AS ${n}_std")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-layer stats, exact (reference _rasterstats.py:4-37; divergence:
    // exact instead of 10k-sample, SURVEY.md §4).
    "q06_stats" -> ((s, _) => {
      val st = stack(s).stats
      st.select(NcBands.map(_.name).flatMap(statCols): _*)
    }),

    // Downsample to a coarser grid (raster.py:1868-1979).
    "q07_aggregate" -> ((s, _) => {
      stack(s).aggregate(16, 20, "avg").df
    }),

    // aggregate with the reference-DEFAULT nearest resampling
    // (raster.py:1871): center-lattice decimation pick, no averaging.
    "q51_aggregate_nearest" -> ((s, _) => {
      stack(s).aggregate(25, 30, "nearest").df
        .select("row", "col", "b1", "b4", "b7")
    }),

    // crop(bounds) -> rebased window + recomputed transform (raster.py:1588-1709).
    "q08_crop" -> ((s, _) => stack(s).crop(-30.7, -20.3, 40.9, 25.1).df),

    // mask(shapes): null outside polygon union; emit per-band valid counts
    // (mirrors tests/test_mask.py count/min/max invariants).
    "q09_mask" -> ((s, _) => {
      val m = stack(s).mask(Fixtures.Polys)
      m.df.agg(
        count(col("b1")).as("b1_count"), min(col("b1")).as("b1_min"), max(col("b1")).as("b1_max"),
        count(col("b7")).as("b7_count"), min(col("b7")).as("b7_min"), max(col("b7")).as("b7_max"))
    }),

    "q10_mask_invert" -> ((s, _) => {
      val m = stack(s).mask(Fixtures.Polys, invert = true)
      m.df.agg(
        count(col("b1")).as("b1_count"), min(col("b1")).as("b1_min"), max(col("b1")).as("b1_max"),
        count(col("b7")).as("b7_count"), min(col("b7")).as("b7_min"), max(col("b7")).as("b7_max"))
    }),

    // intersect(): null everywhere any layer is null (raster.py:1486-1586;
    // mirrors tests/test_intersect.py).
    "q11_intersect" -> ((s, _) => {
      val i = stack(s).intersect
      i.df.agg(
        count(col("b1")).as("b1_count"), min(col("b1")).as("b1_min"), max(col("b1")).as("b1_max"),
        count(col("b5")).as("b5_count"))
    }),

    // Deterministic seeded sample of valid pixels (raster.py:2196-2243).
    "q12_sample" -> ((s, _) => stack(s).sample(100, seed = 7)),

    // Stratified sample, `size` per stratum (raster.py:2244-2287).
    "q13_sample_strata" -> ((s, _) => {
      stack(s).sampleStrata(RasterStack.strata(s, G), 20, seed = 11)
        .select("row", "col", "stratum", "b1")
    }),

    // append(): width-concat of aligned stacks, name dedup _1 suffixes
    // (raster.py:1220-1265) — the (row,col) zip join.
    "q46_append" -> ((s, _) => {
      val st = stack(s)
      st.select(Seq("b1")).append(st.select(Seq("b1", "b2"))).df
        .select("row", "col", "b1", "b1_1", "b2")
    }),

    // extract_vector(LineStrings): all-touched supercover walk + join
    // (raster.py:2435-2455; golden shape tests/test_extract.py:97).
    "q41_extract_lines" -> ((s, _) =>
      Extract.lines(stack(s), Fixtures.Lines).select("row", "col", "line_id", "b1", "b4")),

    // extract_vector(LineStrings) from a parsed vector FILE: the same
    // line layer round-trips through GeoJSON (the reference dispatches
    // gpd.read_file geometries, raster.py:2436-2458) and the geometry
    // stays DISTRIBUTED end-to-end (GeoJson.readLines ->
    // Rasterize.linesTable walks segments per task). Coordinates
    // round-trip bit-exactly through Double.toString/JSON, so this is
    // the q41 relation via the file path — same oracle.
    "q69_lines_geojson" -> ((s, _) => {
      val lines = graft.sources.GeoJson.readLines(s, Fixtures.linesGeoJsonFile())
      Extract.linesFrom(stack(s), lines).select("row", "col", "line_id", "b1", "b4")
    }),

    // extract_vector(points) from a parsed vector FILE (GeoJson.readPoints
    // -> Extract.xy): Point + MultiPoint features, out-of-bounds probes
    // keep null layers (the outer-preserving broadcast path).
    "q70_points_geojson" -> ((s, _) => {
      val pts = graft.sources.GeoJson.readPoints(s, Fixtures.pointsGeoJsonFile())
      Extract.xy(stack(s), pts, "x", "y")
        .select("point_id", "row", "col", "b1", "b4")
    }),

    // Stratified sample WITH replacement (raster.py:2244-2287 draws with
    // replacement; q13 covers the without-replacement contract).
    "q43_sample_replacement" -> ((s, _) => {
      stack(s).sampleStrataWithReplacement(RasterStack.strata(s, G), 25, seed = 13)
        .select("row", "col", "stratum", "draw_idx", "b1")
    }),

    // predict() with a trained random-forest REGRESSOR — the
    // reference's actual estimator family (tests/test_prediction.py
    // fits RandomForestRegressor then stack.predict): deterministic
    // CART forest trained driver-side on a seeded fixture sample
    // (the reference's own extract-then-sklearn-fit workflow), scored
    // by one ForestEval kernel call that ships the frozen trees.
    "q80_predict_forest" -> ((s, _) => {
      Predict.predict(stack(s).df, ForestFeats, RegForest)
        .select("row", "col", "pred_raw_0")
    }),

    // predict_proba + predict with a random-forest CLASSIFIER
    // (tests/test_prediction.py RandomForestClassifier): per-class
    // probability = mean of leaf distributions, predicted class =
    // numpy-argmax — one ForestEval kernel call per output (the scalar
    // twin over the plan-shipped forest), codegen fast path; the oracle
    // spells the same trees as CASE text.
    "q81_forest_proba" -> ((s, _) => {
      val probs = Predict.predictProba(stack(s).df, ForestFeats, ClsForest)
      Predict.predict(probs, ForestFeats, ClsForest)
        .select("row", "col", "prob_0", "prob_1", "prob_2", "pred_raw_0")
    }),

    // predict(): linear model, null where any input null (_prediction.py:101-112).
    "q14_predict" -> ((s, _) => {
      val m = Predict.LinearModel(Array(0.3, -0.2, 0.1, 0.05, -0.15, 0.25), 10.0)
      Predict.predict(stack(s).df, NcBands.map(_.name), m)
        .select("row", "col", "pred_raw_0")
    }),

    // predict_proba(): 2-class rational-squash classifier -> prob_0, prob_1.
    "q15_predict_proba" -> ((s, _) => {
      val m = Predict.SquashModel(Predict.LinearModel(Array(0.02, -0.01, 0.015, -0.02, 0.01, 0.005), -1.0))
      Predict.predictProba(stack(s).df, NcBands.map(_.name), m)
        .select("row", "col", "prob_0", "prob_1")
    }),

    // apply(): declared-output batch function (NDVI-style normalized diff)
    // with the reference masking rule (raster.py:1981-2102).
    "q16_apply_ndvi" -> ((s, _) => {
      Predict.applyColumns(stack(s).df,
        Seq("ndvi" -> when(col("b4") + col("b3") =!= 0.0, (col("b4") - col("b3")) / (col("b4") + col("b3")))),
        maskOn = Seq("b3", "b4"))
        .select("row", "col", "ndvi")
    }),

    // extract_raster: labelled pixels inner-join the stack (raster.py:2474-2508).
    "q17_extract_raster" -> ((s, _) => {
      Extract.raster(stack(s), RasterStack.labels(s, G))
        .select("row", "col", "value", "b1", "b2", "b7")
    }),

    // extract_vector(polygons): rasterize (all_touched=True like the
    // reference's rasterize call, last-wins) + join (raster.py:2435-2455).
    "q18_extract_polygons" -> ((s, _) => {
      Extract.vector(stack(s), Fixtures.Polys)
        .select("row", "col", "poly_id", "b1", "b4")
    }),

    // extract_vector(polygons) from a parsed vector FILE: the same
    // polygon layer round-trips through GeoJSON and rasterizes
    // DISTRIBUTED from the rings table (GeoJson.readPolygons ->
    // Rasterize.polyTable) — the q18 relation via the file path.
    "q72_polys_geojson" -> ((s, _) => {
      val polys = graft.sources.GeoJson.readPolygons(s, Fixtures.polysGeoJsonFile())
      Extract.vectorFrom(stack(s), polys)
        .select("row", "col", "poly_id", "b1", "b4")
    }),

    // Band math + mask algebra (rasterlayer.py:152-347, §2.7/2.8).
    "q19_band_math" -> ((s, _) => {
      val d = stack(s).df
      d.select(col("row"), col("col"),
        (col("b1") + col("b2")).as("b_add"),
        (col("b1") * 2.0 - col("b3")).as("mul_sub"),
        (col("b1") / when(col("b2") =!= 0.0, col("b2"))).as("b_ratio"),
        // + 0.0 normalizes IEEE -0.0 to +0.0 on BOTH sides of the twin:
        // DuckDB's ABS(-x) keeps the sign bit of a negated zero, Spark's
        // abs clears it — the driver compare is bytewise, so -0.0 != +0.0.
        (abs(-col("b4")) + lit(0.0)).as("abs_neg"),
        floor(col("b5") / 7.0).as("floor7"),
        mask_and(col("b1"), col("b2")).as("m_and"),
        mask_or(col("b1"), col("b2")).as("m_or"),
        mask_xor(col("b1"), col("b2")).as("m_xor"))
    }),

    // Feature generators: one-hot + rotated coords + distance-to-corners
    // (preprocessing.py:10-293).
    "q20_features" -> ((s, _) => {
      val d = stack(s).df
        .withColumn("x", grid_x(col("row"), col("col"), G))
        .withColumn("y", grid_y(col("row"), col("col"), G))
      val strata = fdiv(col("col") * 6L, G.width.toLong).cast("int").as("stratum")
      val oh = one_hot(strata, "stratum", Seq(0, 1, 2, 3, 4, 5))
      val rot = rotated_coords(col("x"), col("y"), 4)
      val (bx0, by0, bx1, by1) = G.bounds
      d.select(Seq(col("row"), col("col")) ++ oh ++ rot ++ Seq(
        dist_to(col("x"), col("y"), bx0, by0).as("d_sw"),
        dist_to(col("x"), col("y"), bx1, by1).as("d_ne")): _*)
        .where(col("row") % 13L === 0L && col("col") % 11L === 0L) // thin the output
    }),

    // scale(): exact two-phase standardization (raster.py:2532-2615) —
    // the driver-side mean/std fold into literals, pointwise projection.
    "q28_scale" -> ((s, _) => {
      stack(s).select(Seq("b1", "b2")).scale().df
    }),

    // head(): first 10x20 window peek (raster.py:625-635).
    "q29_head" -> ((s, _) =>
      graft.operators.StackIO.head(stack(s)).select("row", "col", "b1", "b7")),

    // multi-target predict: n output layers pred_raw_0..n-1 (raster.py:1112-1130).
    "q40_predict_multi" -> ((s, _) => {
      val m = Predict.MultiLinearModel(Array(
        Predict.LinearModel(Array(0.3, -0.2, 0.1, 0.05, -0.15, 0.25), 10.0),
        Predict.LinearModel(Array(-0.1, 0.4, -0.05, 0.2, 0.1, -0.3), -5.0)))
      Predict.predictMulti(stack(s).df, NcBands.map(_.name), m)
        .select("row", "col", "pred_raw_0", "pred_raw_1")
    }),

    // Focal 3x3 box mean: two separable sliding windows (row-pass then
    // col-pass), LONG-exact sums, one final division. Frames shrink at
    // borders; all-nodata neighborhoods yield NULL.
    "q90_focal_mean" -> ((s, _) =>
      graft.operators.Focal.stats3x3(
        stack(s).df.select("row", "col", "b1"), "b1")
        .select("row", "col", "sum9", "c9", "focal_mean")),

    // Horn gradient/slope/aspect: separable [1,2,1]x[-1,0,1] via three
    // window passes; numerators exact LONGs gated on all-9-present,
    // slope/aspect through the shared-Ar ATAN/atan2 chain. Slope ships
    // floor(x1e9): DuckDB's ATAN drifts 1 ulp near pi/2 (steep cells —
    // measured on ~4% of this fixture); aspect's atan2 ratios stay in
    // the bit-verified range and ship raw.
    "q91_focal_slope" -> ((s, _) =>
      graft.operators.Focal.horn(
        stack(s).df.select("row", "col", "b1"), "b1", G)
        .select(col("row"), col("col"), col("gx_num"), col("gy_num"),
          floor(col("slope") * lit(1.0e9)).cast("long").as("slope_q"),
          col("aspect"))),

    // 5x5 binomial Gaussian smoothing: renormalizing weighted mean,
    // separable lag/lead weighted sums (LONG-exact), one division.
    "q94_focal_gauss5" -> ((s, _) =>
      graft.operators.Focal.gauss5(
        stack(s).df.select("row", "col", "b1"), "b1")
        .select("row", "col", "g5num", "g5wt", "gauss5")),

    // Zevenbergen-Thorne curvature: separable [1,-2,1] second
    // differences + cross difference, LONG numerators gated on
    // all-9-present; total/profile/plan through the shared-Ar pure
    // +-*/ chain (no transcendentals -> raw doubles, no quantize).
    "q95_curvature" -> ((s, _) =>
      graft.operators.Focal.curvature(
        stack(s).df.select("row", "col", "b1"), "b1", G)
        .select("row", "col", "zxx_num", "zyy_num", "zxy_num",
          "curv", "prof", "plan")),

    // Raster clump: 4-connected equal-category region labeling.
    // Edges are window lags (2 shuffles, no self-join); labels via the
    // contraction components loop; singletons back-filled by left join.
    // Category = avalanche hash % 4 (site percolation at p=1/4 —
    // subcritical, max region ~23 px, so the DuckDB reachability
    // closure stays ~400k rows).
    "q96_clump" -> ((s, _) => {
      val px = RasterStack.grid(s, G).withColumn("cat",
        graft.operators.Clump.avalanche31(
          col("row") * G.width.toLong + col("col")) % lit(4L))
      graft.operators.Clump.clump(px, "cat", G)
        .select("row", "col", "cat", "component")
    }),

    // Zonal statistics: per-polygon-zone count/sum/mean/min/max over
    // the rasterized q18 relation — one hash-agg on the zone key,
    // LONG-exact sums, one final division per mean.
    "q97_zonal" -> ((s, _) =>
      graft.operators.Zonal.stats(
        Extract.vector(stack(s), Fixtures.Polys), "poly_id", Seq("b1", "b4"))),

    // Zonal exact quartiles: per-zone median/q1/q3 via the exact
    // percentile ObjectHashAggregate (value-histogram state — bounded
    // by distinct band values, not zone size).
    "q103_zonal_quantiles" -> ((s, _) =>
      graft.operators.Zonal.quantiles(
        Extract.vector(stack(s), Fixtures.Polys), "poly_id", Seq("b1", "b4"))),

    // Raster proximity (gdal_proximity analogue): exact distance to
    // the nearest b4==0 feature cell for a 50x50 probe window, via the
    // k=1 ring-widening KNN (no crossJoin; oracle brute-forces the
    // same (dist, id) argmin).
    "q104_proximity" -> ((s, _) => {
      val full = RasterStack.stack(s, G)
      val feats = full.where(col("b4") === 0.0)
        .select((col("row") * G.width.toLong + col("col")).as("fid"),
          col("x").as("fx"), col("y").as("fy"))
      // KNN.join's expand step posexplodes (pos, col) — rename the
      // raster's row/col so probe columns can't collide with it
      val probes = full
        .where(col("row").between(100, 149) && col("col").between(100, 149))
        .select((col("row") * G.width.toLong + col("col")).as("pix"),
          col("row").as("prow"), col("col").as("pcol"), col("x"), col("y"))
      graft.operators.KNN.proximity(
          probes, "pix", "x", "y", feats, "fx", "fy", "fid", res = 5)
        .select(col("prow").as("row"), col("pcol").as("col"),
          col("dist"), col("near_id"))
    }),

    // Topographic position index: center minus mean of the PRESENT
    // neighbors (excl. center) — pure arithmetic over the stats3x3
    // columns (sum9 - b)/(c9 - 1); NULL at nodata centers and where
    // no neighbor exists. LONG numerator, one division.
    "q109_tpi" -> ((s, _) =>
      graft.operators.Focal.stats3x3(
        stack(s).df.select("row", "col", "b1"), "b1")
        .select(col("row"), col("col"),
          when(col("b1").isNotNull && col("c9") > 1,
            col("b1") - (col("sum9") - col("b1").cast("long")).cast("double") /
              (col("c9") - lit(1L)).cast("double")).as("tpi"))),

    // Object-based image analysis composition: zonal stats over CLUMP
    // regions (zones = connected components of the categorical raster,
    // statistics over a continuous band) — region size + b1 rollup.
    "q110_region_stats" -> ((s, _) => {
      val av = graft.operators.Clump.avalanche31(
        col("row") * G.width.toLong + col("col"))
      // b1 rides THROUGH clump as a carried column (clump preserves its
      // input columns) instead of re-joining the 217k-row stack on
      // (row, col) afterwards — the bands derive from the same grid, so
      // attaching b1 before labeling is the identical relation without
      // the pixel-x-pixel sort-merge join the old shape paid.
      val px = RasterStack.grid(s, G).withColumn("cat", av % lit(4L))
        .withColumn("b1", RasterStack.bandValue(col("row"), col("col"),
          RasterStack.NcBands.find(_.name == "b1").get))
      val labeled = graft.operators.Clump.clump(px, "cat", G)
      graft.operators.Zonal.stats(labeled, "component", Seq("b1"))
    }),

    // Overview pyramid: two ~2x levels, each a base-grid block mean
    // (exact: integral band values keep partial sums associative).
    "q107_pyramid" -> ((s, _) =>
      stack(s).select(Seq("b1", "b4")).pyramid(2)
        .select("level", "row", "col", "b1", "b4")),

    // Vector geometry properties (geopandas area/centroid/bounds
    // analogue): signed shoelace over closed RFC-oriented rings, pure
    // per-row Column arithmetic — integral fixture coords keep the
    // folds order-free and unquantized.
    "q105_geom_props" -> ((s, _) => {
      import s.implicits._
      val polys = GeomPolys.toDF("poly_id", "xss", "yss")
      graft.operators.Geom.properties(polys)
        .select("poly_id", "area", "cx", "cy", "xmin", "ymin", "xmax", "ymax")
    }),

    // Focal 3x3 majority filter (classification smoothing): K=4
    // indicator box-counts sharing TWO window shuffles, smallest-k
    // tie-break, NULL where the window has no categorized pixel.
    "q100_majority" -> ((s, _) => {
      val av = graft.operators.Clump.avalanche31(
        col("row") * G.width.toLong + col("col"))
      val px = RasterStack.grid(s, G).withColumn("cat",
        when(av % lit(89L) === 0L, lit(null)).otherwise(av % lit(4L)))
      graft.operators.Focal.majority3x3(px, "cat", 4)
        .select("row", "col", "cat", "maj_cnt", "majority")
    }),

    // Sieve filter: clump the nodata-masked category raster, then
    // merge every region < 4 px into its largest adjacent region of
    // size >= 4 (tie: smallest id), taking that region's category;
    // NULL-cat regions excluded both ways (nodata mask semantics).
    "q101_sieve" -> ((s, _) => {
      val av = graft.operators.Clump.avalanche31(
        col("row") * G.width.toLong + col("col"))
      val px = RasterStack.grid(s, G).withColumn("cat",
        when(av % lit(89L) === 0L, lit(null)).otherwise(av % lit(4L)))
      val labeled = graft.operators.Clump.clump(px, "cat", G)
      graft.operators.Clump.sieve(labeled, "cat", minPix = 4)
        .select("row", "col", "cat_out", "component_out")
    }),

    // Iterative sieve to fixpoint (gdal semantics, bounded 3 rounds):
    // after each merge pass the REGION graph contracts and sizes
    // accumulate, so a small region whose neighbor grew past the
    // threshold merges in a later round — the nested-small-chain case
    // the one-pass q101 documents as divergent. minPix=6 (vs q101's 4)
    // makes multi-round growth chains common on the percolation
    // fixture. Oracle unrolls the same 3 region-level rounds as CTEs.
    "q114_sieve_fixpoint" -> ((s, _) => {
      val av = graft.operators.Clump.avalanche31(
        col("row") * G.width.toLong + col("col"))
      val px = RasterStack.grid(s, G).withColumn("cat",
        when(av % lit(89L) === 0L, lit(null)).otherwise(av % lit(4L)))
      val labeled = graft.operators.Clump.clump(px, "cat", G)
      graft.operators.Clump.sieveFixpoint(labeled, "cat", minPix = 6, rounds = 3)
        .select("row", "col", "cat_out", "component_out")
    }),

    // D8 flow direction (hydrology FlowDirection analogue): steepest
    // positive distance-weighted drop among the 8 neighbors, ESRI
    // power-of-two codes, smallest-code tie-break, 0 at pits/flats,
    // NULL at nodata centers. The 8-neighbor gather is TWO window
    // shuffles (W/E carried along the row pass, then six vertical
    // lags/leads share one Exchange); drop = exact integral subtract +
    // one shared-Ar division, so d8_drop ships raw.
    "q118_d8_flowdir" -> ((s, _) =>
      graft.operators.Focal.d8(
        stack(s).df.select("row", "col", "b1"), "b1")
        .select("row", "col", "d8_dir", "d8_drop")),

    // Focal 3x3 min/max/range (local relief): separable two-pass
    // sliding min/max, exact integral outputs.
    "q127_focal_minmax" -> ((s, _) =>
      graft.operators.Focal.minmax3x3(
        stack(s).df.select("row", "col", "b1"), "b1")
        .select("row", "col", "focal_min", "focal_max", "focal_range")),

    // Marching-squares contour extraction at level 127.5 (raster ->
    // vector): two-shuffle 2x2 corner gather, table-driven 14-case
    // segment CASE with exact-LONG saddle rule, shared-Ar edge
    // interpolation (raw doubles, bit-exact), one explode (no
    // per-slot union re-evaluating the windows).
    "q122_contour" -> ((s, _) =>
      graft.operators.Contour.segments(
        stack(s).df.select("row", "col", "b1"), "b1", level = 127.5)),

    // Flow accumulation (upstream contributing-cell count): wave
    // propagation over the D8 forest / single-task chase under the
    // bound; the oracle counts recursive-walk visits per node.
    "q128_flow_accum" -> ((s, _) =>
      graft.operators.Flow.accumulation(
        stack(s).df.select("row", "col", "b1"), "b1", G)
        .select("row", "col", "d8_dir", "flow_acc")),

    // Watershed labeling + flow length over the D8 pointer forest:
    // pointer doubling (O(log depth) self-join rounds with checkpoint
    // truncation), exact LONG hop counts; the oracle walks the same
    // forest one hop at a time with a recursive CTE.
    "q121_watershed" -> ((s, _) =>
      graft.operators.Flow.routing(
        stack(s).df.select("row", "col", "b1"), "b1", G)
        .select("row", "col", "outlet", "outlet_row", "outlet_col",
          "flow_len")),

    // Analytic hillshade from Horn slope/aspect; per-row SIN carries
    // DuckDB's 1-ulp variance, so the output ships floor(x1e3).
    "q92_hillshade" -> ((s, _) => {
      val d = graft.operators.Focal.horn(
        stack(s).df.select("row", "col", "b1"), "b1", G)
      val hs = graft.operators.Focal.hillshade[org.apache.spark.sql.Column](
        col("slope"), col("aspect"))(graft.operators.Utm.ColAr)
      d.select(col("row"), col("col"),
        floor(hs * lit(1000.0)).cast("long").as("hs_q"))
    })
  )

  /** q105 fixture: CLOSED, RFC-7946-oriented rings with INTEGRAL
    * coordinates (donut = CCW shell + CW hole; multipolygon = two CCW
    * shells) — integral coords make every shoelace term and partial
    * sum exact, so engine folds and oracle SUMs agree bit-for-bit. */
  private val GeomPolys: Seq[(Int, Seq[Seq[Double]], Seq[Seq[Double]])] = Seq(
    (100,
      Seq(Seq(-60.0, 40.0, 40.0, -60.0, -60.0), Seq(-20.0, -20.0, 10.0, 10.0, -20.0)),
      Seq(Seq(-40.0, -40.0, 40.0, 40.0, -40.0), Seq(-10.0, 20.0, 20.0, -10.0, -10.0))),
    (101,
      Seq(Seq(50.0, 90.0, 90.0, 50.0, 50.0), Seq(-120.0, -80.0, -80.0, -120.0, -120.0)),
      Seq(Seq(-30.0, -30.0, 10.0, 10.0, -30.0), Seq(10.0, 10.0, 50.0, 50.0, 10.0))))

  private def geomPolysSql: String = GeomPolys.map { case (id, xss, yss) =>
    def lst(rings: Seq[Seq[Double]]): String =
      rings.map(_.map(v => s"CAST(${v.toLong} AS DOUBLE)")
        .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"SELECT $id AS poly_id, ${lst(xss)} AS xss, ${lst(yss)} AS yss"
  }.mkString("(", " UNION ALL ", ")")

  /** q100/q101 fixture category: avalanche %4 with a ~1% nodata mask. */
  private def catNodataSql: String = {
    val av = graft.operators.Clump.avalanche31Sql(s"(row * ${G.width} + col)")
    s"CASE WHEN ($av) % 89 = 0 THEN NULL ELSE ($av) % 4 END"
  }

  /** Clump oracle for an arbitrary category SQL: rook adjacency +
    * recursive reachability closure, min-reachable-id labels (feasible
    * because the avalanche categories stay subcritical — max region
    * ~23 px, closure ~400k rows). */
  private def clumpOracleSql(catSql: String): String = {
    val w = G.width
    s"""WITH RECURSIVE n AS (
       |  SELECT row, col, row * $w + col AS id, ($catSql) AS cat FROM ${gridSql(G)}),
       |e AS (
       |  SELECT a.id AS src, b.id AS dst FROM n a JOIN n b
       |    ON b.row = a.row AND b.col = a.col + 1 AND b.cat = a.cat
       |  UNION ALL SELECT b.id, a.id FROM n a JOIN n b
       |    ON b.row = a.row AND b.col = a.col + 1 AND b.cat = a.cat
       |  UNION ALL SELECT a.id, b.id FROM n a JOIN n b
       |    ON b.col = a.col AND b.row = a.row + 1 AND b.cat = a.cat
       |  UNION ALL SELECT b.id, a.id FROM n a JOIN n b
       |    ON b.col = a.col AND b.row = a.row + 1 AND b.cat = a.cat),
       |reach AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst)
       |SELECT n.row, n.col, n.cat,
       |  CAST(LEAST(n.id, COALESCE(MIN(r.dst), n.id)) AS BIGINT) AS component
       |FROM n LEFT JOIN reach r ON r.src = n.id
       |GROUP BY n.row, n.col, n.cat, n.id""".stripMargin
  }

  /**
   * Oracle for [[graft.operators.Clump.sieveFixpoint]]: the clump
   * labeling, then `rounds` UNROLLED region-level merge rounds — each
   * round replays exactly the engine's algebra (valid/size-filtered
   * pick with (n DESC, t) tie-break, label map composition, size
   * accumulation, edge contraction) as chained CTEs.
   */
  private def sieveFixpointOracleSql(catSql: String, minPix: Int,
                                     rounds: Int): String = {
    val lab = clumpOracleSql(catSql)
    val sb = new StringBuilder
    // every multi-referenced CTE is MATERIALIZED: the unrolled rounds
    // reference lab 4x and reg/m 3x each — inlined, the recursive
    // clump closure would re-execute ~4^rounds times (observed: >10
    // min at 216k px vs seconds materialized).
    sb ++= s"WITH lab AS MATERIALIZED ($lab),\n"
    sb ++= "reg0 AS MATERIALIZED (SELECT component AS id, COUNT(*) AS n, MAX(cat) AS rcat FROM lab GROUP BY 1),\n"
    sb ++=
      """adjp AS MATERIALIZED (
        |  SELECT a.component AS s, b.component AS t FROM lab a JOIN lab b
        |    ON b.row = a.row AND b.col = a.col + 1 AND a.component <> b.component
        |  UNION ALL SELECT a.component, b.component FROM lab a JOIN lab b
        |    ON b.col = a.col AND b.row = a.row + 1 AND a.component <> b.component),
        |""".stripMargin
    sb ++= "e0 AS MATERIALIZED (SELECT DISTINCT s, t FROM (SELECT s, t FROM adjp UNION ALL SELECT t, s FROM adjp)),\n"
    sb ++= "map0 AS MATERIALIZED (SELECT id AS orig, id AS lbl FROM reg0),\n"
    for (k <- 1 to rounds) {
      val j = k - 1
      sb ++=
        s"""pick$k AS MATERIALIZED (SELECT s, t FROM (
           |  SELECT b.s, b.t, ROW_NUMBER() OVER (PARTITION BY b.s ORDER BY tz.n DESC, b.t) AS rn
           |  FROM e$j b
           |  JOIN reg$j cs ON cs.id = b.s AND cs.rcat IS NOT NULL AND cs.n < $minPix
           |  JOIN reg$j tz ON tz.id = b.t AND tz.rcat IS NOT NULL AND tz.n >= $minPix) WHERE rn = 1),
           |m$k AS MATERIALIZED (SELECT r.id, COALESCE(p.t, r.id) AS nid FROM reg$j r LEFT JOIN pick$k p ON p.s = r.id),
           |reg$k AS MATERIALIZED (SELECT m.nid AS id, SUM(r.n) AS n,
           |    MAX(CASE WHEN r.id = m.nid THEN r.rcat END) AS rcat
           |  FROM reg$j r JOIN m$k m ON m.id = r.id GROUP BY 1),
           |e$k AS MATERIALIZED (SELECT DISTINCT ms.nid AS s, mt.nid AS t FROM e$j x
           |  JOIN m$k ms ON ms.id = x.s JOIN m$k mt ON mt.id = x.t WHERE ms.nid <> mt.nid),
           |map$k AS MATERIALIZED (SELECT mp.orig, m.nid AS lbl FROM map$j mp JOIN m$k m ON m.id = mp.lbl),
           |""".stripMargin
    }
    sb ++=
      s"""fin AS (SELECT orig, lbl FROM map$rounds)
         |SELECT lab.row, lab.col,
         |  CASE WHEN f.lbl <> lab.component THEN rc.rcat ELSE lab.cat END AS cat_out,
         |  CAST(f.lbl AS BIGINT) AS component_out
         |FROM lab JOIN fin f ON f.orig = lab.component
         |LEFT JOIN reg0 rc ON rc.id = f.lbl""".stripMargin
    sb.toString
  }

  /** Shared focal CTE: pixel relation + the horizontal [1,1,1] pass
    * (LONG sums/counts; the vertical pass completes the 3×3). */
  private def focalH: String = {
    val b1 = bandSql("row", "col", NcBands.head)
    val hw = "PARTITION BY row ORDER BY col ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING"
    s"""WITH px AS (SELECT row, col, $b1 AS b1 FROM ${gridSql(G)}),
       |h AS (SELECT row, col, CAST(b1 AS BIGINT) AS bl,
       |        SUM(CAST(b1 AS BIGINT)) OVER ($hw) AS hs,
       |        COUNT(b1) OVER ($hw) AS hc
       |      FROM px)""".stripMargin
  }

  /** The v+g CTEs completing Horn's separable passes, and the gated
    * numerator texts the slope/aspect chain consumes. */
  private def focalHornCtes: String =
    s"""$focalH,
       |v AS (SELECT row, col, bl, hs,
       |        SUM(bl) OVER vw AS vs, SUM(hc) OVER vw AS c9,
       |        (LEAD(hs + bl, 1) OVER vo - LAG(hs + bl, 1) OVER vo) AS gy
       |      FROM h
       |      WINDOW vw AS (PARTITION BY col ORDER BY row ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING),
       |             vo AS (PARTITION BY col ORDER BY row)),
       |g AS (SELECT row, col, c9, gy,
       |        (LEAD(vs + bl, 1) OVER ho - LAG(vs + bl, 1) OVER ho) AS gx
       |      FROM v WINDOW ho AS (PARTITION BY row ORDER BY col))""".stripMargin

  private val gxGated = "CAST(CASE WHEN c9 = 9 THEN gx END AS DOUBLE)"
  private val gyGated = "CAST(CASE WHEN c9 = 9 THEN gy END AS DOUBLE)"

  /** D8 CTE chain (no `WITH ` prefix — q121 needs `WITH RECURSIVE`):
    * the same two-pass 8-neighbor gather as the engine (W/E carried
    * along the row pass, six vertical lags/leads), per-code
    * distance-weighted drops as NAMED columns, so the argmax fold's
    * text repeats drop names rather than drop arithmetic (its
    * accumulators are still copied at each step, so the text doubles
    * per code; the engine binds each step to a column instead), ending
    * in `dd(row, col, b1, d8_dir, d8_drop)`. */
  private def d8OracleCtes: String = {
    import graft.operators.Focal
    val b1 = bandSql("row", "col", NcBands.head)
    val nbr = Map(1 -> "e8", 2 -> "se8", 4 -> "s8", 8 -> "sw8",
      16 -> "w8", 32 -> "nw8", 64 -> "n8", 128 -> "ne8")
    val dropCols = Focal.D8Codes.map { case (code, _, _, dist) =>
      s"${Focal.d8DropSql("b1", nbr(code), dist)} AS d$code"
    }.mkString(",\n|        ")
    val (dirSql, dropSql) = Focal.d8PartsSql(
      Focal.D8Codes.map { case (code, _, _, _) => code -> s"d$code" })
    s"""px AS (SELECT row, col, $b1 AS b1 FROM ${gridSql(G)}),
       |h AS (SELECT row, col, b1,
       |        LAG(b1, 1) OVER ho AS w8, LEAD(b1, 1) OVER ho AS e8
       |      FROM px WINDOW ho AS (PARTITION BY row ORDER BY col)),
       |v AS (SELECT row, col, b1, w8, e8,
       |        LAG(b1, 1) OVER vo AS n8, LEAD(b1, 1) OVER vo AS s8,
       |        LAG(w8, 1) OVER vo AS nw8, LAG(e8, 1) OVER vo AS ne8,
       |        LEAD(w8, 1) OVER vo AS sw8, LEAD(e8, 1) OVER vo AS se8
       |      FROM h WINDOW vo AS (PARTITION BY col ORDER BY row)),
       |d AS (SELECT row, col, b1,
       |        $dropCols
       |      FROM v),
       |dd AS (SELECT row, col, b1,
       |         CASE WHEN b1 IS NOT NULL THEN CAST($dirSql AS BIGINT) END AS d8_dir,
       |         CASE WHEN b1 IS NOT NULL THEN $dropSql END AS d8_drop
       |       FROM d)""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "q94_focal_gauss5" -> {
      val b1 = bandSql("row", "col", NcBands.head)
      def w(c: String, ov: String) =
        s"(6 * $c + 4 * (LAG($c, 1, 0) OVER $ov + LEAD($c, 1, 0) OVER $ov)" +
          s" + LAG($c, 2, 0) OVER $ov + LEAD($c, 2, 0) OVER $ov)"
      s"""WITH px AS (SELECT row, col, $b1 AS b1 FROM ${gridSql(G)}),
         |p AS (SELECT row, col, COALESCE(CAST(b1 AS BIGINT), 0) AS x,
         |        CAST(CASE WHEN b1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS pr
         |      FROM px),
         |v AS (SELECT row, col, ${w("x", "vo")} AS vn, ${w("pr", "vo")} AS vw
         |      FROM p WINDOW vo AS (PARTITION BY col ORDER BY row)),
         |g AS (SELECT row, col, ${w("vn", "ho")} AS g5num, ${w("vw", "ho")} AS g5wt
         |      FROM v WINDOW ho AS (PARTITION BY row ORDER BY col))
         |SELECT row, col, g5num, g5wt,
         |  CASE WHEN g5wt > 0
         |       THEN CAST(g5num AS DOUBLE) / CAST(g5wt AS DOUBLE) END AS gauss5
         |FROM g""".stripMargin
    },

    "q90_focal_mean" ->
      s"""$focalH
         |SELECT row, col,
         |  CAST(SUM(hs) OVER vw AS BIGINT) AS sum9,
         |  CAST(SUM(hc) OVER vw AS BIGINT) AS c9,
         |  CAST(SUM(hs) OVER vw AS DOUBLE) / CAST(SUM(hc) OVER vw AS DOUBLE) AS focal_mean
         |FROM h WINDOW vw AS (PARTITION BY col ORDER BY row ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)""".stripMargin,

    "q91_focal_slope" -> {
      val (xres, yres) = G.resolution
      val (slope, aspect) = graft.operators.Focal.slopeAspectSql(gxGated, gyGated, xres, yres)
      s"""$focalHornCtes
         |SELECT row, col,
         |  CAST(CASE WHEN c9 = 9 THEN gx END AS BIGINT) AS gx_num,
         |  CAST(CASE WHEN c9 = 9 THEN gy END AS BIGINT) AS gy_num,
         |  CAST(FLOOR(($slope) * 1000000000.0) AS BIGINT) AS slope_q,
         |  CASE WHEN c9 = 9 THEN $aspect END AS aspect
         |FROM g""".stripMargin
    },

    "q118_d8_flowdir" ->
      s"""WITH $d8OracleCtes
         |SELECT row, col, d8_dir, d8_drop FROM dd""".stripMargin,

    "q127_focal_minmax" -> {
      val b1 = bandSql("row", "col", NcBands.head)
      val hw = "PARTITION BY row ORDER BY col ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING"
      s"""WITH px AS (SELECT row, col, $b1 AS b1 FROM ${gridSql(G)}),
         |mh AS (SELECT row, col, MIN(b1) OVER ($hw) AS hmin,
         |         MAX(b1) OVER ($hw) AS hmax
         |       FROM px)
         |SELECT row, col,
         |  MIN(hmin) OVER vw AS focal_min, MAX(hmax) OVER vw AS focal_max,
         |  MAX(hmax) OVER vw - MIN(hmin) OVER vw AS focal_range
         |FROM mh WINDOW vw AS (PARTITION BY col ORDER BY row ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)""".stripMargin
    },

    "q122_contour" -> graft.operators.Contour.segmentsSql(
      s"(SELECT row, col, ${bandSql("row", "col", NcBands.head)} AS b1 " +
        s"FROM ${gridSql(G)})", "b1", level = 127.5),

    "q128_flow_accum" -> {
      // each recursive-walk row (id, cur) with cur <> id is one visit
      // of id's drainage path at node cur; paths are simple (strict
      // descent), so COUNT(*) per cur IS the upstream cell count
      val w = G.width.toLong
      val pSql = s"(CAST(row * $w + col AS BIGINT) + " +
        s"${graft.operators.Flow.deltaSql("d8_dir", w)})"
      s"""WITH RECURSIVE $d8OracleCtes,
         |pt AS MATERIALIZED (SELECT row, col, d8_dir,
         |         CAST(row * $w + col AS BIGINT) AS id, $pSql AS p FROM dd),
         |walk(id, cur) AS (
         |  SELECT id, p FROM pt WHERE p <> id
         |  UNION ALL
         |  SELECT wk.id, p2.p
         |  FROM walk wk JOIN pt p2 ON p2.id = wk.cur AND p2.p <> p2.id)
         |SELECT pt.row, pt.col, pt.d8_dir,
         |  COALESCE(a.n, 0) AS flow_acc
         |FROM pt LEFT JOIN (
         |  SELECT cur, CAST(COUNT(*) AS BIGINT) AS n FROM walk GROUP BY 1) a
         |ON a.cur = pt.id""".stripMargin
    },

    "q121_watershed" -> {
      // per-cell downstream pointer (self for pits/nodata), then a
      // recursive walk to the forest root — the oracle replays the
      // engine's pointer-doubling fixpoint one hop at a time (acyclic
      // by the strict-drop construction, so the recursion terminates)
      val w = G.width.toLong
      val pSql = s"(CAST(row * $w + col AS BIGINT) + " +
        s"${graft.operators.Flow.deltaSql("d8_dir", w)})"
      s"""WITH RECURSIVE $d8OracleCtes,
         |pt AS MATERIALIZED (SELECT row, col, CAST(row * $w + col AS BIGINT) AS id,
         |         $pSql AS p FROM dd),
         |walk(id, cur, len) AS (
         |  SELECT id, p, CASE WHEN p = id THEN 0 ELSE 1 END FROM pt
         |  UNION ALL
         |  SELECT wk.id, p2.p, wk.len + 1
         |  FROM walk wk JOIN pt p2 ON p2.id = wk.cur AND p2.p <> p2.id)
         |SELECT pt.row, pt.col, f.outlet,
         |  CAST(f.outlet // $w AS BIGINT) AS outlet_row,
         |  CAST(f.outlet % $w AS BIGINT) AS outlet_col,
         |  CAST(f.len AS BIGINT) AS flow_len
         |FROM pt JOIN (
         |  SELECT id, cur AS outlet, len FROM (
         |    SELECT id, cur, len,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY len DESC) AS rn
         |    FROM walk) WHERE rn = 1) f ON f.id = pt.id""".stripMargin
    },

    "q96_clump" -> clumpOracleSql(
      graft.operators.Clump.avalanche31Sql(s"(row * ${G.width} + col)") + " % 4"),

    "q101_sieve" -> {
      val lab = clumpOracleSql(catNodataSql)
      s"""WITH lab AS ($lab),
         |sz AS (SELECT component, COUNT(*) AS n FROM lab GROUP BY 1),
         |cm AS (SELECT component, MAX(cat) AS ccat FROM lab GROUP BY 1),
         |adjr AS (
         |  SELECT a.component AS s, b.component AS t FROM lab a JOIN lab b
         |    ON b.row = a.row AND b.col = a.col + 1 AND a.component <> b.component
         |  UNION ALL SELECT a.component, b.component FROM lab a JOIN lab b
         |    ON b.col = a.col AND b.row = a.row + 1 AND a.component <> b.component),
         |undir AS (SELECT s, t FROM adjr UNION ALL SELECT t, s FROM adjr),
         |pick AS (
         |  SELECT s, t FROM (
         |    SELECT b.s, b.t,
         |      ROW_NUMBER() OVER (PARTITION BY b.s ORDER BY tz.n DESC, b.t) AS rn
         |    FROM undir b
         |    JOIN cm cs ON cs.component = b.s AND cs.ccat IS NOT NULL
         |    JOIN cm ct ON ct.component = b.t AND ct.ccat IS NOT NULL
         |    JOIN sz ss ON ss.component = b.s
         |    JOIN sz tz ON tz.component = b.t
         |    WHERE ss.n < 4 AND tz.n >= 4) WHERE rn = 1)
         |SELECT lab.row, lab.col,
         |  CASE WHEN p.t IS NOT NULL THEN tc.ccat ELSE lab.cat END AS cat_out,
         |  CAST(COALESCE(p.t, lab.component) AS BIGINT) AS component_out
         |FROM lab LEFT JOIN pick p ON p.s = lab.component
         |LEFT JOIN cm tc ON tc.component = p.t""".stripMargin
    },

    "q114_sieve_fixpoint" ->
      sieveFixpointOracleSql(catNodataSql, minPix = 6, rounds = 3),

    "q97_zonal" -> graft.operators.Zonal.statsSql(
      s"($extractPolygonsOracle)", "poly_id", Seq("b1", "b4")),

    "q103_zonal_quantiles" -> graft.operators.Zonal.quantilesSql(
      s"($extractPolygonsOracle)", "poly_id", Seq("b1", "b4")),

    "q109_tpi" ->
      s"""$focalH,
         |v AS (SELECT row, col, bl, SUM(hs) OVER vw AS s9, SUM(hc) OVER vw AS c9
         |      FROM h WINDOW vw AS (PARTITION BY col ORDER BY row ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING))
         |SELECT row, col,
         |  CASE WHEN bl IS NOT NULL AND c9 > 1
         |       THEN CAST(bl AS DOUBLE) - CAST(s9 - bl AS DOUBLE) / CAST(c9 - 1 AS DOUBLE)
         |  END AS tpi
         |FROM v""".stripMargin,

    "q110_region_stats" -> {
      val lab = clumpOracleSql(
        graft.operators.Clump.avalanche31Sql(s"(row * ${G.width} + col)") + " % 4")
      graft.operators.Zonal.statsSql(
        s"""(SELECT l.component, g.b1 FROM ($lab) l
           | JOIN $pixSql g ON g.row = l.row AND g.col = l.col)""".stripMargin,
        "component", Seq("b1"))
    },

    "q107_pyramid" -> {
      def lvl(l: Int): String = {
        val h = (G.height + (1 << l) - 1) >> l
        val w = (G.width + (1 << l) - 1) >> l
        s"""SELECT CAST($l AS INT) AS level,
           | CAST(row * $h // ${G.height} AS BIGINT) AS row,
           | CAST(col * $w // ${G.width} AS BIGINT) AS col,
           | AVG(b1) AS b1, AVG(b4) AS b4
           |FROM $pixSql GROUP BY 1, 2, 3""".stripMargin
      }
      s"${lvl(1)} UNION ALL ${lvl(2)}"
    },

    "q105_geom_props" ->
      s"""WITH p AS (SELECT * FROM $geomPolysSql),
         |r AS (SELECT poly_id, unnest(generate_series(1, len(xss))) AS ri,
         |        unnest(xss) AS xs, unnest(yss) AS ys FROM p),
         |t AS (SELECT poly_id, xs, ys,
         |        unnest(generate_series(1, len(xs) - 1)) AS i FROM r),
         |v AS (SELECT poly_id,
         |        xs[i] * ys[i + 1] - xs[i + 1] * ys[i] AS cr,
         |        (xs[i] + xs[i + 1]) * (xs[i] * ys[i + 1] - xs[i + 1] * ys[i]) AS cxn,
         |        (ys[i] + ys[i + 1]) * (xs[i] * ys[i + 1] - xs[i + 1] * ys[i]) AS cyn
         |      FROM t),
         |a AS (SELECT poly_id, SUM(cr) AS a2, SUM(cxn) AS cxn, SUM(cyn) AS cyn
         |      FROM v GROUP BY 1),
         |bdx AS (SELECT poly_id, MIN(u) AS xmin, MAX(u) AS xmax
         |       FROM (SELECT poly_id, unnest(flatten(xss)) AS u FROM p) GROUP BY 1),
         |bdy AS (SELECT poly_id, MIN(u) AS ymin, MAX(u) AS ymax
         |       FROM (SELECT poly_id, unnest(flatten(yss)) AS u FROM p) GROUP BY 1)
         |SELECT a.poly_id, a2 / 2.0 AS area,
         |  CASE WHEN a2 <> 0 THEN cxn / (3.0 * a2) END AS cx,
         |  CASE WHEN a2 <> 0 THEN cyn / (3.0 * a2) END AS cy,
         |  bdx.xmin, bdy.ymin, bdx.xmax, bdy.ymax
         |FROM a JOIN bdx USING (poly_id) JOIN bdy USING (poly_id)""".stripMargin,

    "q104_proximity" -> {
      // identical IEEE chain to KNN.join's dist column
      val d = "SQRT((p.x - f.fx) * (p.x - f.fx) + (p.y - f.fy) * (p.y - f.fy))"
      s"""WITH f AS (SELECT row * ${G.width} + col AS fid, x AS fx, y AS fy
         |           FROM $pixXySql WHERE b4 = 0),
         |p AS (SELECT row, col, x, y FROM $pixXySql
         |      WHERE row BETWEEN 100 AND 149 AND col BETWEEN 100 AND 149)
         |SELECT row, col, dist, near_id FROM (
         |  SELECT p.row, p.col, $d AS dist, f.fid AS near_id,
         |    ROW_NUMBER() OVER (PARTITION BY p.row, p.col
         |                       ORDER BY $d, f.fid) AS rn
         |  FROM p CROSS JOIN f) WHERE rn = 1""".stripMargin
    },

    "q100_majority" -> {
      val av = graft.operators.Clump.avalanche31Sql(s"(row * ${G.width} + col)")
      val hw = "PARTITION BY row ORDER BY col ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING"
      val vw = "PARTITION BY col ORDER BY row ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING"
      val ks = 0 until 4
      val g4 = s"GREATEST(${ks.map(k => s"c$k").mkString(", ")})"
      s"""WITH n AS (SELECT row, col,
         |    CASE WHEN ($av) % 89 = 0 THEN NULL ELSE ($av) % 4 END AS cat
         |  FROM ${gridSql(G)}),
         |h AS (SELECT row, col, cat,
         |    ${ks.map(k => s"SUM(CASE WHEN cat = $k THEN 1 ELSE 0 END) OVER ($hw) AS h$k").mkString(", ")}
         |  FROM n),
         |v AS (SELECT row, col, cat,
         |    ${ks.map(k => s"CAST(SUM(h$k) OVER ($vw) AS BIGINT) AS c$k").mkString(", ")}
         |  FROM h)
         |SELECT row, col, cat, $g4 AS maj_cnt,
         |  CASE WHEN $g4 = 0 THEN NULL
         |       ${ks.map(k => s"WHEN c$k = $g4 THEN CAST($k AS BIGINT)").mkString(" ")}
         |  END AS majority
         |FROM v""".stripMargin
    },

    "q95_curvature" -> {
      val (xres, yres) = G.resolution
      val b1 = bandSql("row", "col", NcBands.head)
      def gD(c: String) = s"CAST(CASE WHEN c9 = 9 THEN $c END AS DOUBLE)"
      val (total, profNum, planNum, p) = graft.operators.Focal.curvatureSql(
        gD("dxx"), gD("dyy"), gD("dxy"), gD("dx1"), gD("dy1"), xres, yres)
      val div = graft.operators.Utm.SqlAr
      s"""WITH px AS (SELECT row, col, $b1 AS b1 FROM ${gridSql(G)}),
         |b AS (SELECT row, col, CAST(b1 AS BIGINT) AS bl,
         |        COUNT(b1) OVER (PARTITION BY row ORDER BY col ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS hc
         |      FROM px),
         |h AS (SELECT row, col, bl, hc,
         |        (LAG(bl, 1) OVER ho + LEAD(bl, 1) OVER ho - 2 * bl) AS dxx,
         |        (LEAD(bl, 1) OVER ho - LAG(bl, 1) OVER ho) AS dx1
         |      FROM b WINDOW ho AS (PARTITION BY row ORDER BY col)),
         |v AS (SELECT row, col, dxx, dx1,
         |        SUM(hc) OVER vw AS c9,
         |        (LAG(bl, 1) OVER vo + LEAD(bl, 1) OVER vo - 2 * bl) AS dyy,
         |        (LEAD(bl, 1) OVER vo - LAG(bl, 1) OVER vo) AS dy1,
         |        (LEAD(dx1, 1) OVER vo - LAG(dx1, 1) OVER vo) AS dxy
         |      FROM h
         |      WINDOW vw AS (PARTITION BY col ORDER BY row ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING),
         |             vo AS (PARTITION BY col ORDER BY row))
         |SELECT row, col,
         |  CAST(CASE WHEN c9 = 9 THEN dxx END AS BIGINT) AS zxx_num,
         |  CAST(CASE WHEN c9 = 9 THEN dyy END AS BIGINT) AS zyy_num,
         |  CAST(CASE WHEN c9 = 9 THEN dxy END AS BIGINT) AS zxy_num,
         |  $total AS curv,
         |  CASE WHEN $p > 0.0 THEN ${div.div(profNum, p)} END AS prof,
         |  CASE WHEN $p > 0.0 THEN ${div.div(planNum, p)} END AS plan
         |FROM v""".stripMargin
    },

    "q92_hillshade" -> {
      val (xres, yres) = G.resolution
      val (slope, aspect) = graft.operators.Focal.slopeAspectSql(gxGated, gyGated, xres, yres)
      val hs = graft.operators.Focal.hillshade[String](
        slope, s"CASE WHEN c9 = 9 THEN $aspect END")(graft.operators.Utm.SqlAr)
      s"""$focalHornCtes
         |SELECT row, col, CAST(FLOOR(($hs) * 1000.0) AS BIGINT) AS hs_q
         |FROM g""".stripMargin
    },

    "q06_stats" ->
      s"SELECT ${NcBands.map(_.name).flatMap(statSql).mkString(", ")} FROM $pixSql",

    "q07_aggregate" -> {
      val cells = NcBands.map(b => s"AVG(${b.name}) AS ${b.name}").mkString(", ")
      s"""SELECT CAST(row * 16 // ${G.height} AS BIGINT) AS row,
         | CAST(col * 20 // ${G.width} AS BIGINT) AS col, $cells
         |FROM $pixSql GROUP BY 1, 2""".stripMargin
    },

    "q51_aggregate_nearest" -> {
      val (h, w) = (G.height, G.width)
      val bands = Seq("b1", "b4", "b7")
      s"""SELECT t.orow AS row, t.ocol AS col, ${bands.map(b => s"g.$b").mkString(", ")}
         |FROM (SELECT range // 30 AS orow, range % 30 AS ocol,
         |        (2 * (range // 30) * $h + $h) // (2 * 25) AS srow,
         |        (2 * (range % 30) * $w + $w) // (2 * 30) AS scol
         |      FROM range(${25 * 30})) t
         |LEFT JOIN (SELECT row, col, ${NcBands.filter(b => bands.contains(b.name)).map(b => bandSql("row", "col", b) + s" AS ${b.name}").mkString(", ")}
         |           FROM ${gridSql(G)}) g
         |  ON g.row = t.srow AND g.col = t.scol""".stripMargin
    },

    "q08_crop" -> {
      // same window arithmetic as Stack.crop, precomputed on the driver
      val c0 = math.max(G.col(-30.7, 25.1), 0L); val r0 = math.max(G.row(-30.7, 25.1), 0L)
      val c1 = math.min(G.col(math.nextUp(40.9), math.nextDown(-20.3)) + 1, G.width.toLong)
      val r1 = math.min(G.row(math.nextUp(40.9), math.nextDown(-20.3)) + 1, G.height.toLong)
      s"""SELECT row - $r0 AS row, col - $c0 AS col, ${NcBands.map(_.name).mkString(", ")}
         |FROM $pixSql WHERE row >= $r0 AND row < $r1 AND col >= $c0 AND col < $c1""".stripMargin
    },

    "q09_mask" ->
      s"""SELECT COUNT(b1) AS b1_count, MIN(b1) AS b1_min, MAX(b1) AS b1_max,
         | COUNT(b7) AS b7_count, MIN(b7) AS b7_min, MAX(b7) AS b7_max
         |FROM (SELECT CASE WHEN ${maskKeepSql(false)} THEN b1 END AS b1,
         |             CASE WHEN ${maskKeepSql(false)} THEN b7 END AS b7 FROM $pixXySql)""".stripMargin,

    "q10_mask_invert" ->
      s"""SELECT COUNT(b1) AS b1_count, MIN(b1) AS b1_min, MAX(b1) AS b1_max,
         | COUNT(b7) AS b7_count, MIN(b7) AS b7_min, MAX(b7) AS b7_max
         |FROM (SELECT CASE WHEN ${maskKeepSql(true)} THEN b1 END AS b1,
         |             CASE WHEN ${maskKeepSql(true)} THEN b7 END AS b7 FROM $pixXySql)""".stripMargin,

    "q11_intersect" ->
      s"""SELECT COUNT(b1) AS b1_count, MIN(b1) AS b1_min, MAX(b1) AS b1_max, COUNT(b5) AS b5_count
         |FROM (SELECT CASE WHEN ${NcBands.map(_.name + " IS NOT NULL").mkString(" AND ")} THEN b1 END AS b1,
         |             CASE WHEN ${NcBands.map(_.name + " IS NOT NULL").mkString(" AND ")} THEN b5 END AS b5
         |      FROM $pixSql)""".stripMargin,

    "q12_sample" -> {
      val key = s"(row * ${G.width} + col)"
      val h = s"((($key * 1103515245 + 7) % 2147483648) * 69069 + 12345) % 2147483648"
      s"""SELECT row, col, ${NcBands.map(_.name).mkString(", ")} FROM $pixSql
         |WHERE ${NcBands.map(_.name + " IS NOT NULL").mkString(" AND ")}
         |ORDER BY $h, $key LIMIT 100""".stripMargin
    },

    "q13_sample_strata" -> {
      val key = s"(row * ${G.width} + col)"
      val h = s"((($key * 1103515245 + 11) % 2147483648) * 69069 + 12345) % 2147483648"
      s"""SELECT row, col, stratum, b1 FROM (
         | SELECT row, col, CAST(col * 6 // ${G.width} AS INT) AS stratum, b1,
         |   ROW_NUMBER() OVER (PARTITION BY (col * 6 // ${G.width}) ORDER BY $h, $key) AS rn
         | FROM $pixSql WHERE ${NcBands.map(_.name + " IS NOT NULL").mkString(" AND ")}
         |) WHERE rn <= 20""".stripMargin
    },

    "q46_append" ->
      s"SELECT row, col, b1, b1 AS b1_1, b2 FROM $pixSql",

    "q41_extract_lines" -> extractLinesOracle,

    // identical relation through the GeoJSON-file path (coordinates
    // round-trip bit-exactly; only the physical plan differs)
    "q69_lines_geojson" -> extractLinesOracle,

    "q70_points_geojson" -> {
      import graft.sources.OracleLit.d
      val row = s"CAST(FLOOR((p.y - ${d(G.f)}) / (${d(G.e)})) AS BIGINT)"
      val c = s"CAST(FLOOR((p.x - ${d(G.c)}) / (${d(G.a)})) AS BIGINT)"
      s"""SELECT p.point_id, $row AS row, $c AS col, g.b1, g.b4
         |FROM ${Fixtures.pointsValuesSql} p
         |LEFT JOIN $pixSql g ON g.row = $row AND g.col = $c""".stripMargin
    }
  ) ++ oracles2

  /** q18/q72 shared oracle: all_touched = center-inside OR boundary
    * supercover. For the axis-aligned rect fixtures the Amanatides-Woo
    * boundary walk reduces to the cell-space OUTLINE rectangle, whose
    * corner cells are computed with the SAME (x - c)/a floor floats as
    * the walker. */
  private lazy val extractPolygonsOracle: String = {
    def boundarySql(r: Fixtures.Rect): String = {
      val cx0 = math.floor((r.xmin - G.c) / G.a).toLong
      val cx1 = math.floor((r.xmax - G.c) / G.a).toLong
      val ry0 = math.floor((r.ymax - G.f) / G.e).toLong
      val ry1 = math.floor((r.ymin - G.f) / G.e).toLong
      val (cL, cR) = (math.min(cx0, cx1), math.max(cx0, cx1))
      val (rT, rB) = (math.min(ry0, ry1), math.max(ry0, ry1))
      s"(((row = $rT OR row = $rB) AND col BETWEEN $cL AND $cR)" +
        s" OR ((col = $cL OR col = $cR) AND row BETWEEN $rT AND $rB))"
    }
    val winner = Fixtures.Rects
      .map(r => s"CASE WHEN ${Fixtures.rectSql(r, "x", "y")} OR ${boundarySql(r)} THEN ${r.id} ELSE -1 END")
      .mkString("GREATEST(", ", ", ")")
    s"""SELECT row, col, $winner AS poly_id, b1, b4 FROM $pixXySql
       |WHERE $winner >= 0""".stripMargin
  }

  /** q41/q69 shared oracle. */
  private lazy val extractLinesOracle: String = {
      // The oracle REPLAYS the Amanatides-Woo supercover walk as a
      // recursive CTE: identical IEEE doubles step-for-step (init tMax,
      // += tDelta accumulation, < comparison), so the visited-cell set is
      // bit-identical to Rasterize.segment's. Integer cells then burn
      // last-wins and join the pixel relation.
      import graft.sources.OracleLit.{d => dl}
      val inf = "CAST('infinity' AS DOUBLE)"
      s"""WITH RECURSIVE c1 AS (
         | SELECT line_id,
         |   (x0 - ${dl(G.c)}) / ${dl(G.a)} AS gx0, (y0 - ${dl(G.f)}) / ${dl(G.e)} AS gy0,
         |   (x1 - ${dl(G.c)}) / ${dl(G.a)} AS gx1, (y1 - ${dl(G.f)}) / ${dl(G.e)} AS gy1
         | FROM ${Fixtures.lineSegmentsValuesSql}),
         |c2 AS (
         | SELECT line_id, gx0, gy0, gx1 - gx0 AS dx, gy1 - gy0 AS dy,
         |   CAST(FLOOR(gx0) AS BIGINT) AS cx0, CAST(FLOOR(gy0) AS BIGINT) AS cy0,
         |   CAST(FLOOR(gx1) AS BIGINT) AS ex, CAST(FLOOR(gy1) AS BIGINT) AS ey
         | FROM c1),
         |c3 AS (
         | SELECT line_id, cx0, cy0, ex, ey,
         |   CASE WHEN dx > 0 THEN 1 WHEN dx < 0 THEN -1 ELSE 0 END AS stepx,
         |   CASE WHEN dy > 0 THEN 1 WHEN dy < 0 THEN -1 ELSE 0 END AS stepy,
         |   CASE WHEN dx = 0 THEN $inf
         |        ELSE (CAST(CASE WHEN dx > 0 THEN cx0 + 1 ELSE cx0 END AS DOUBLE) - gx0) / dx END AS tmx0,
         |   CASE WHEN dy = 0 THEN $inf
         |        ELSE (CAST(CASE WHEN dy > 0 THEN cy0 + 1 ELSE cy0 END AS DOUBLE) - gy0) / dy END AS tmy0,
         |   CASE WHEN dx = 0 THEN $inf ELSE ABS(1.0 / dx) END AS tdx,
         |   CASE WHEN dy = 0 THEN $inf ELSE ABS(1.0 / dy) END AS tdy,
         |   ABS(ex - cx0) + ABS(ey - cy0) + 2 AS msteps
         | FROM c2),
         |walk AS (
         | SELECT line_id, cx0 AS cx, cy0 AS cy, tmx0 AS tmx, tmy0 AS tmy,
         |   CAST(0 AS BIGINT) AS steps, stepx, stepy, tdx, tdy, ex, ey, msteps
         | FROM c3
         | UNION ALL
         | SELECT line_id,
         |   CASE WHEN tmx < tmy THEN cx + stepx ELSE cx END,
         |   CASE WHEN tmx < tmy THEN cy ELSE cy + stepy END,
         |   CASE WHEN tmx < tmy THEN tmx + tdx ELSE tmx END,
         |   CASE WHEN tmx < tmy THEN tmy ELSE tmy + tdy END,
         |   steps + 1, stepx, stepy, tdx, tdy, ex, ey, msteps
         | FROM walk
         | WHERE NOT ((cx = ex AND cy = ey) OR steps > msteps)),
         |burn AS (
         | SELECT cy AS row, cx AS col, MAX(line_id) AS line_id
         | FROM walk
         | WHERE cy >= 0 AND cy < ${G.height} AND cx >= 0 AND cx < ${G.width}
         | GROUP BY 1, 2)
         |SELECT b.row, b.col, b.line_id, g.b1, g.b4
         |FROM burn b JOIN $pixSql g ON g.row = b.row AND g.col = b.col""".stripMargin
  }

  // -- forest fixtures (q80/q81) ------------------------------------
  // The bands are pure integer formulas, so the training sample
  // synthesizes on the driver with NO Spark session (RasterStack
  // .bandScalar) — query and oracle share one frozen forest with no
  // freeze tool. Sample: every 101st pixel key with all bands valid
  // (~1.8k rows), features b1..b5; regression target b7, classifier
  // target = b7 terciles.
  // lazy: referenced from the queries/oracles maps that precede it
  lazy val ForestFeats: Seq[String] = Seq("b1", "b2", "b3", "b4", "b5")

  private lazy val forestSample: (Array[Array[Double]], Array[Double]) = {
    val rows = for {
      key <- 5L until G.cells by 101L
      r = key / G.width; c = key % G.width
      vals = NcBands.map(RasterStack.bandScalar(r, c, _))
      if vals.forall(_.isDefined)
    } yield (vals.init.map(_.get).toArray, vals.last.get)
    (rows.map(_._1).toArray, rows.map(_._2).toArray)
  }

  lazy val RegForest: Predict.ForestRegressorModel = {
    val (xs, ys) = forestSample
    graft.operators.Cart.fitRegressionForest(xs, ys,
      graft.operators.Cart.Config(nTrees = 10, maxDepth = 4, minLeaf = 5,
        mtry = 5, seed = 29))
  }

  lazy val ClsForest: Predict.ForestClassifierModel = {
    val (xs, ys) = forestSample
    val cls = ys.map(y => if (y < 76.0) 0 else if (y < 151.0) 1 else 2)
    graft.operators.Cart.fitClassificationForest(xs, cls, 3,
      graft.operators.Cart.Config(nTrees = 8, maxDepth = 3, minLeaf = 5,
        mtry = 2, seed = 31))
  }

  // lazy: referenced from `oracles` above its definition point
  private lazy val oracles2: Map[String, String] = Map(

    "q80_predict_forest" -> {
      val mask = ForestFeats.map(_ + " IS NULL").mkString(" OR ")
      s"""SELECT row, col,
         | CASE WHEN $mask THEN NULL ELSE ${RegForest.sql(ForestFeats)} END AS pred_raw_0
         |FROM $pixSql""".stripMargin
    },

    "q81_forest_proba" -> {
      val mask = ForestFeats.map(_ + " IS NULL").mkString(" OR ")
      val ps = (0 until 3).map(c => ClsForest.probSql(ForestFeats, c))
      s"""SELECT row, col,
         | CASE WHEN $mask THEN NULL ELSE ${ps(0)} END AS prob_0,
         | CASE WHEN $mask THEN NULL ELSE ${ps(1)} END AS prob_1,
         | CASE WHEN $mask THEN NULL ELSE ${ps(2)} END AS prob_2,
         | CASE WHEN $mask THEN NULL ELSE ${ClsForest.predictSql(ForestFeats)} END AS pred_raw_0
         |FROM $pixSql""".stripMargin
    },

    "q43_sample_replacement" -> {
      // prefix draw semantics (Stack.sampleStrataWithReplacement): the
      // engine's top_k(8·size) aggregate holds the stratum's ascending
      // (h, key) PREFIX, so element rank == global rank and the oracle
      // ranks globally; basis = LEAST(cnt, 8·size); target = pick mod
      // basis + 1
      val key = s"(row * ${G.width} + col)"
      val h = s"((($key * 1103515245 + 13) % 2147483648) * 69069 + 12345) % 2147483648"
      val pick = "(((((b.stratum * 1000003 + t.i) * 1103515245 + 13) % 2147483648) * 69069 + 12345) % 2147483648)"
      s"""WITH v AS (
         | SELECT row, col, CAST(col * 6 // ${G.width} AS INT) AS stratum, b1, $h AS h,
         |   ROW_NUMBER() OVER (PARTITION BY (col * 6 // ${G.width}) ORDER BY $h, $key) AS rn,
         |   COUNT(*) OVER (PARTITION BY (col * 6 // ${G.width})) AS cnt
         | FROM $pixSql WHERE ${NcBands.map(_.name + " IS NOT NULL").mkString(" AND ")}),
         |basis AS (
         | SELECT stratum, LEAST(cnt, 200) AS basis
         | FROM (SELECT DISTINCT stratum, cnt FROM v)),
         |picks AS (
         | SELECT b.stratum, CAST(t.i AS INT) AS draw_idx,
         |   $pick % b.basis + 1 AS target
         | FROM basis b, range(0, 25) t(i))
         |SELECT v.row, v.col, v.stratum, p.draw_idx, v.b1
         |FROM v JOIN picks p ON p.stratum = v.stratum AND v.rn = p.target""".stripMargin
    },

    "q14_predict" -> {
      val ws = Seq(0.3, -0.2, 0.1, 0.05, -0.15, 0.25)
      val acc = NcBands.zip(ws).foldLeft("0.0") { case (a, (b, w)) => s"($a + ${graft.sources.OracleLit.d(w)} * ${b.name})" }
      s"""SELECT row, col,
         | CASE WHEN ${NcBands.map(_.name + " IS NULL").mkString(" OR ")} THEN NULL
         |      ELSE ($acc + 10.0) END AS pred_raw_0
         |FROM $pixSql""".stripMargin
    },

    "q15_predict_proba" -> {
      val ws = Seq(0.02, -0.01, 0.015, -0.02, 0.01, 0.005)
      val acc = NcBands.zip(ws).foldLeft("0.0") { case (a, (b, w)) => s"($a + ${graft.sources.OracleLit.d(w)} * ${b.name})" }
      val z = s"($acc + -1.0)"
      val p1 = s"(0.5 + $z / (2.0 * (1.0 + ABS($z))))"
      s"""SELECT row, col,
         | CASE WHEN ${NcBands.map(_.name + " IS NULL").mkString(" OR ")} THEN NULL ELSE (1.0 - $p1) END AS prob_0,
         | CASE WHEN ${NcBands.map(_.name + " IS NULL").mkString(" OR ")} THEN NULL ELSE $p1 END AS prob_1
         |FROM $pixSql""".stripMargin
    },

    "q16_apply_ndvi" ->
      s"""SELECT row, col,
         | CASE WHEN b3 IS NULL OR b4 IS NULL THEN NULL
         |      WHEN b4 + b3 <> 0.0 THEN (b4 - b3) / (b4 + b3) END AS ndvi
         |FROM $pixSql""".stripMargin,

    "q17_extract_raster" ->
      s"""SELECT l.row, l.col, ${RasterStack.labelsSqlValue("l.row", "l.col")} AS value, g.b1, g.b2, g.b7
         |FROM ${gridSql(G)} l JOIN $pixSql g ON g.row = l.row AND g.col = l.col
         |WHERE ${RasterStack.labelsSqlWhere("l.row", "l.col")}""".stripMargin,

    "q18_extract_polygons" -> extractPolygonsOracle,

    // identical relation through the GeoJSON-file path
    "q72_polys_geojson" -> extractPolygonsOracle,

    "q19_band_math" ->
      s"""SELECT row, col,
         | b1 + b2 AS b_add, b1 * 2.0 - b3 AS mul_sub,
         | b1 / (CASE WHEN b2 <> 0.0 THEN b2 END) AS b_ratio,
         | ABS(-b4) + 0.0 AS abs_neg, CAST(FLOOR(b5 / 7.0) AS BIGINT) AS floor7,
         | CASE WHEN b1 IS NULL OR b2 IS NULL THEN NULL ELSE b1 END AS m_and,
         | COALESCE(b1, b2) AS m_or,
         | CASE WHEN b1 IS NOT NULL AND b2 IS NOT NULL THEN NULL ELSE COALESCE(b1, b2) END AS m_xor
         |FROM $pixSql""".stripMargin,

    "q20_features" -> {
      val x = xSql(G); val y = ySql(G)
      val strata = s"CAST(col * 6 // ${G.width} AS INT)"
      val oh = (0 to 5).map(v => s"CASE WHEN $strata = $v THEN 1 ELSE 0 END AS stratum_cat_$v")
      val rot = (0 until 4).map { i =>
        val t = math.tan(math.Pi * i / 4)
        s"($x + ${graft.sources.OracleLit.d(t)} * $y) AS angle_${i + 1}"
      }
      val (bx0, by0, bx1, by1) = G.bounds
      s"""SELECT row, col, ${oh.mkString(", ")}, ${rot.mkString(", ")},
         | SQRT(($x - $bx0) * ($x - $bx0) + ($y - $by0) * ($y - $by0)) AS d_sw,
         | SQRT(($x - $bx1) * ($x - $bx1) + ($y - $by1) * ($y - $by1)) AS d_ne
         |FROM $pixSql WHERE row % 13 = 0 AND col % 11 = 0""".stripMargin
    },

    "q28_scale" -> {
      def z(n: String) =
        s"($n - st.${n}_s / st.${n}_c) / SQRT((st.${n}_ss - st.${n}_s * st.${n}_s / st.${n}_c) / st.${n}_c) AS $n"
      s"""SELECT row, col, ${z("b1")}, ${z("b2")}
         |FROM $pixSql, (SELECT SUM(b1) AS b1_s, COUNT(b1) AS b1_c, SUM(b1*b1) AS b1_ss,
         |                      SUM(b2) AS b2_s, COUNT(b2) AS b2_c, SUM(b2*b2) AS b2_ss
         |               FROM $pixSql) st""".stripMargin
    },

    "q29_head" ->
      s"SELECT row, col, b1, b7 FROM $pixSql WHERE row < 10 AND col < 20",

    "q40_predict_multi" -> {
      def acc(ws: Seq[Double], bias: Double) = {
        val a = NcBands.zip(ws).foldLeft("0.0") { case (a, (b, w)) =>
          s"($a + ${graft.sources.OracleLit.d(w)} * ${b.name})"
        }
        s"($a + ${graft.sources.OracleLit.d(bias)})"
      }
      val anyNull = NcBands.map(_.name + " IS NULL").mkString(" OR ")
      s"""SELECT row, col,
         | CASE WHEN $anyNull THEN NULL ELSE ${acc(Seq(0.3, -0.2, 0.1, 0.05, -0.15, 0.25), 10.0)} END AS pred_raw_0,
         | CASE WHEN $anyNull THEN NULL ELSE ${acc(Seq(-0.1, 0.4, -0.05, 0.2, 0.1, -0.3), -5.0)} END AS pred_raw_1
         |FROM $pixSql""".stripMargin
    }
  )
}
