package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{GridMeta, PolygonSet}
import graft.functions._

/**
 * The Raster-stack analogue (SURVEY.md §1.4): a wide DataFrame of pixels
 * `(row, col, layer...)` plus broadcast grid metadata. Immutable — every
 * operator returns a new Stack. Layer values are nullable DoubleType;
 * NULL ≙ the reference's numpy mask.
 *
 * Scale notes: all operators below are projections/filters (no shuffle)
 * except `aggregate` (hash agg on derived block keys) and the extraction
 * joins in [[Extract]]. Filters on row/col/tile prune partitions when
 * the pixel table is stored partitioned/sorted by tile or cell id.
 */
final case class Stack(df: DataFrame, meta: GridMeta, layers: Seq[String]) {

  private def L(name: String): Column = col(name)
  private def keyCols = Seq(col("row"), col("col"))

  // --- projections (reference locindexer.py, raster.py:1220-1344) -------

  /** Label subsetting: `loc[[names]]` (locindexer.py:16-42). */
  def select(names: Seq[String]): Stack = {
    require(names.forall(layers.contains), s"unknown layers ${names.filterNot(layers.contains)}")
    Stack(df.select((Seq("row", "col") ++ names).map(col): _*), meta, names)
  }

  /** Positional subsetting: `iloc` (locindexer.py:212-239). */
  def iloc(idx: Seq[Int]): Stack = select(idx.map(layers))

  /** drop(labels) (raster.py:1267-1316). */
  def drop(names: Seq[String]): Stack = {
    require(names.forall(layers.contains), s"unknown layers ${names.filterNot(layers.contains)}")
    val keep = layers.filterNot(names.contains)
    Stack(df.drop(names: _*), meta, keep)
  }

  /** rename (raster.py:1318-1344); new names are sanitized. */
  def rename(mapping: Map[String, String]): Stack = {
    val newLayers = layers.map(n => Naming.sanitize(mapping.getOrElse(n, n)))
    val newDf = mapping.foldLeft(df) { case (d, (o, n)) => d.withColumnRenamed(o, Naming.sanitize(n)) }
    Stack(newDf, meta, newLayers)
  }

  /**
   * append(other): width-wise concat of aligned stacks — an equi-join on
   * (row, col) since the grids are aligned (raster.py:1220-1265); names
   * deduplicated with _1.._n suffixes. At scale: both sides share the
   * same layout, so with tile/cell-bucketed storage this is a
   * co-partitioned (shuffle-free) join.
   */
  def append(other: Stack): Stack = {
    require(other.meta.width == meta.width && other.meta.height == meta.height,
      "append requires aligned grids (raster.py:481-516)")
    val all = Naming.fix(layers ++ other.layers)
    val mine = layers.zip(all.take(layers.size))
    val theirs = other.layers.zip(all.drop(layers.size))
    val lhs = mine.foldLeft(df) { case (d, (o, n)) => d.withColumnRenamed(o, n) }
    val rhs = theirs.foldLeft(other.df.select((Seq("row", "col") ++ other.layers).map(col): _*)) {
      case (d, (o, n)) => d.withColumnRenamed(o, n)
    }
    Stack(lhs.join(rhs, Seq("row", "col")), meta, all)
  }

  /** Replace / add a layer (locindexer.py:44-61). */
  def withLayer(name: String, c: Column): Stack = {
    val n = Naming.sanitize(name)
    Stack(df.withColumn(n, c.cast("double")), meta,
      if (layers.contains(n)) layers else layers :+ n)
  }

  // --- focal derivations (operators.Focal; separable-window plans) ------

  /** 3×3 box mean of `band` as a new layer (borders shrink, nodata
    * skipped); see [[Focal.stats3x3]] for the two-pass window shape. */
  def focalMean(band: String, name: String = "focal_mean"): Stack = {
    require(layers.contains(band), s"unknown layer $band")
    val n = Naming.sanitize(name)
    Stack(Focal.stats3x3(df, band).drop("sum9", "c9")
      .withColumnRenamed("focal_mean", n), meta,
      if (layers.contains(n)) layers else layers :+ n)
  }

  /** Horn terrain derivatives of `band` as new layers
    * `slope`/`aspect`/`hillshade` (radians / radians / 0-255 Lambertian;
    * NULL at borders and beside nodata) — the gdaldem-style trio a
    * geospatial model consumes as extra predictors. */
  def terrain(band: String, azDeg: Double = 315.0, zenDeg: Double = 45.0): Stack = {
    require(layers.contains(band), s"unknown layer $band")
    val d = Focal.horn(df, band, meta)
      .withColumn("hillshade", Focal.hillshade[Column](
        col("slope"), col("aspect"), azDeg, zenDeg)(Utm.ColAr))
      .drop("gx_num", "gy_num")
    Stack(d, meta, layers ++ Seq("slope", "aspect", "hillshade").filterNot(layers.contains))
  }

  // --- filters (reference raster.py:1346-1709) --------------------------

  /**
   * crop(bounds): world-bounds filter + recomputed transform
   * (raster.py:1588-1709). The predicate is on (row, col), so a
   * tile/cell-partitioned layout prunes at the source.
   */
  def crop(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Stack = {
    // bounds -> row/col window exactly like the reference: rowcol of the
    // corners with floor semantics, clamped to the grid (raster.py:1649-1662)
    val c0 = math.max(meta.col(xmin, ymax), 0L)
    val r0 = math.max(meta.row(xmin, ymax), 0L)
    val c1 = math.min(meta.col(math.nextUp(xmax), math.nextDown(ymin)) + 1, meta.width.toLong)
    val r1 = math.min(meta.row(math.nextUp(xmax), math.nextDown(ymin)) + 1, meta.height.toLong)
    val cropped = df.where(col("row") >= r0 && col("row") < r1 && col("col") >= c0 && col("col") < c1)
      .withColumn("row", col("row") - r0)
      .withColumn("col", col("col") - c0)
    Stack(cropped, meta.windowed(r0, c0, (r1 - r0).toInt, (c1 - c0).toInt), layers)
  }

  /**
   * mask(shapes): null out pixels OUTSIDE the polygon union (keep inside);
   * invert=true keeps outside (raster.py:1346-1484). Zero-shuffle: a
   * plan-shipped PIP index predicate over pixel centers — the semi/anti
   * join of SURVEY.md §2.2 expressed as a projection.
   */
  def mask(shapes: PolygonSet, invert: Boolean = false, cropToShapes: Boolean = false): Stack = {
    val x = grid_x(col("row"), col("col"), meta)
    val y = grid_y(col("row"), col("col"), meta)
    val inside = SpatialJoin.containsAny(x, y, shapes)
    val keep = if (invert) !inside else inside
    val masked = layers.foldLeft(df)((d, n) => d.withColumn(n, when(keep, col(n))))
    val out = Stack(masked, meta, layers)
    // reference default crop=True trims to the union extent (forced off
    // when invert, raster.py:1411-1413)
    if (cropToShapes && !invert) {
      val boxes = shapes.polys.map(_.bbox)
      out.crop(boxes.map(_._1).min, boxes.map(_._2).min, boxes.map(_._3).max, boxes.map(_._4).max)
    } else out
  }

  /**
   * intersect(): pixel dropped (nulled) in EVERY layer if null in ANY
   * layer (raster.py:1486-1586) — pure projection.
   */
  def intersect: Stack = {
    val anyNull = layers.map(L(_).isNull).reduce(_ || _)
    Stack(layers.foldLeft(df)((d, n) => d.withColumn(n, when(!anyNull, col(n)))), meta, layers)
  }

  // --- aggregations (reference _rasterstats.py, raster.py:1868-1979) ----

  /**
   * Per-layer stats, EXACT over all pixels (divergence from the
   * reference's 10k-pixel decimated sample, documented in SURVEY.md §4).
   * mean/std are derived from integer-exact sums where layer values are
   * integral, making them reproducible across engines.
   */
  def stats: DataFrame = {
    val aggs = layers.flatMap { n =>
      Seq(count(L(n)).as(s"${n}_count"), min(L(n)).as(s"${n}_min"), max(L(n)).as(s"${n}_max"),
        sum(L(n)).as(s"${n}_sum"), sum(L(n) * L(n)).as(s"${n}_sumsq"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Overview pyramid (gdaladdo analogue): `levels` successive ~2×
   * downsamples, each an [[aggregate]] of the BASE grid at
   * ceil(dim / 2^l) (every level reads the source once — block means
   * from the base are exact, while re-aggregating level l−1 would
   * compound rounding on uneven edge blocks), unioned with a `level`
   * column. Each level is one hash-agg with map-side partials; the
   * union is plan-level only (no extra shuffle).
   */
  def pyramid(levels: Int, how: String = "avg"): DataFrame = {
    require(levels >= 1 && (meta.height >> levels) > 0 && (meta.width >> levels) > 0,
      s"pyramid: $levels levels would collapse the ${meta.height}x${meta.width} grid")
    // exact-sum aggregations share ONE source scan: each pixel explodes
    // its per-level block key and a single hash-agg (map-side partials)
    // produces every level — the union-of-aggregates form scanned and
    // band-synthesized the base once PER LEVEL. Block keys are the same
    // integer arithmetic as [[aggregate]]; per-block values are
    // identical, so results match the per-level form bit-for-bit for
    // the order-free aggregations (sum/count exactly; avg/min/max on
    // the integral-band invariant). Rank-based hows (median/mode/q1/q3)
    // and `nearest` keep the per-level path.
    val shared = Set("avg", "min", "max", "sum", "count")
    if (!shared(how))
      return (1 to levels).map { l =>
        val h = (meta.height + (1 << l) - 1) >> l
        val w = (meta.width + (1 << l) - 1) >> l
        aggregate(h, w, how).df.withColumn("level", lit(l))
      }.reduce(_ unionByName _)
    val fn: Column => Column = how match {
      case "avg" => avg
      case "min" => min
      case "max" => max
      case "sum" => sum
      case "count" => c => count(c).cast("double")
    }
    val hL = meta.height.toLong; val wL = meta.width.toLong
    val lev = df.select((col("row") +: col("col") +: layers.map(L)): _*)
      .withColumn("level", explode(array((1 to levels).map(lit): _*)))
      .withColumn("__p2", expr("shiftleft(1L, level)"))
      .withColumn("__oh", idiv(lit(hL) + col("__p2") - 1L, col("__p2")))
      .withColumn("__ow", idiv(lit(wL) + col("__p2") - 1L, col("__p2")))
    lev.groupBy(col("level"),
        idiv(col("row") * col("__oh"), lit(hL)).as("row"),
        idiv(col("col") * col("__ow"), lit(wL)).as("col"))
      .agg(fn(col(layers.head)).as(layers.head),
        layers.tail.map(n => fn(col(n)).as(n)): _*)
      .select((Seq("row", "col") ++ layers :+ "level").map(col): _*)
  }

  /**
   * aggregate(out_shape): decimate to a coarser grid (raster.py:1868-1979).
   * Block key = floor(row * outH / H) — classic hash agg with map-side
   * partial aggregation; `how` ∈ avg|min|max|sum|count.
   */
  def aggregate(outH: Int, outW: Int, how: String = "avg"): Stack = {
    if (how == "nearest") return aggregateNearest(outH, outW)
    val orow = fdiv(col("row") * outH.toLong, meta.height.toLong)
    val ocol = fdiv(col("col") * outW.toLong, meta.width.toLong)
    val fn: Column => Column = how match {
      case "avg" => avg
      case "min" => min
      case "max" => max
      case "sum" => sum
      case "count" => c => count(c).cast("double")
      case "median" => c => percentile_approx(c, lit(0.5), lit(10000))
      case "mode" => mode
      case "q1" => c => percentile_approx(c, lit(0.25), lit(10000))
      case "q3" => c => percentile_approx(c, lit(0.75), lit(10000))
      case other => throw new IllegalArgumentException(
        s"unsupported aggregation '$other' (expected nearest|avg|min|max|sum|count|median|mode|q1|q3)")
    }
    val out = df.groupBy(orow.as("row"), ocol.as("col"))
      .agg(fn(L(layers.head)).as(layers.head),
        layers.tail.map(n => fn(L(n)).as(n)): _*)
    Stack(out, meta.scaledTo(outH, outW), layers)
  }

  /**
   * aggregate with the reference-DEFAULT `nearest` resampling
   * (raster.py:1871 — rasterio decimated reads default to
   * Resampling.nearest): out pixel (orow, ocol) takes the VALUE of the
   * center-lattice source pixel
   *   srow = (2*orow + 1) * H // (2*outH),  scol likewise
   * (floor((orow + 0.5) * H / outH) in pure integer arithmetic — the
   * GDAL/rasterio nearest decimation sample), no averaging. Physical
   * shape: the target lattice is outH x outW rows (tiny relative to the
   * source), broadcast against the pixel table via the outer-preserving
   * probe-broadcast union — the source streams once, zero shuffle.
   */
  def aggregateNearest(outH: Int, outW: Int): Stack = {
    val spark = df.sparkSession
    val lattice = spark.range(outH.toLong * outW)
      .select(idiv(col("id"), lit(outW.toLong)).as("__orow"),
        (col("id") % outW.toLong).as("__ocol"))
      .withColumn("row",
        idiv(col("__orow") * lit(2L * meta.height) + lit(meta.height.toLong), lit(2L * outH)))
      .withColumn("col",
        idiv(col("__ocol") * lit(2L * meta.width) + lit(meta.width.toLong), lit(2L * outW)))
    val joined = Extract.probeOuterBroadcast(df, lattice, Seq("row", "col"), layers)
    val out = joined.select((Seq(col("__orow").as("row"), col("__ocol").as("col")) ++
      layers.map(col)): _*)
    Stack(out, meta.scaledTo(outH, outW), layers)
  }

  /** to_crs (raster.py:1711-1866): warp onto `target` through `crs`
    * with the named resampling — the reference's API surface, delegated
    * to [[Warp.toCrs]]. */
  def toCrs(target: GridMeta, crs: Warp.CrsTransform,
            resampling: String = "nearest"): Stack =
    Warp.toCrs(this, target, crs, resampling)

  /** to_crs without an explicit target grid — the reference's
    * `stack.to_crs(crs)` one-liner: the target derives from the source
    * bounds + transform ([[Warp.defaultTarget]], the
    * calculate_default_transform analogue, raster.py:1730-1766). */
  def toCrs(crs: Warp.CrsTransform, resampling: String,
            targetCrs: String): Stack =
    Warp.toCrs(this, Warp.defaultTarget(meta, crs, targetCrs), crs, resampling)

  /**
   * scale(): standardize each layer to (x - mean) / std, two-phase —
   * one exact aggregate, broadcast into a projection (raster.py:2532-2615).
   */
  def scale(centre: Boolean = true, scale: Boolean = true): Stack = {
    val row = stats.collect()(0)
    val proj = layers.foldLeft(df) { (d, n) =>
      val cnt = row.getAs[Long](s"${n}_count").toDouble
      val s = row.getAs[Double](s"${n}_sum"); val ss = row.getAs[Double](s"${n}_sumsq")
      val mean = s / cnt
      val std = math.sqrt((ss - s * s / cnt) / cnt)
      val centred = if (centre) col(n) - mean else col(n)
      d.withColumn(n, if (scale) centred / std else centred)
    }
    Stack(proj, meta, layers)
  }

  // --- sampling (reference raster.py:2162-2298) --------------------------

  /**
   * sample(size, seed): deterministic seeded sample of pixels with no
   * null layer — one pass via order-by-hash + limit (contract of the
   * reference's rejection loop: n valid pixels, seeded — raster.py:2196-2243).
   * TakeOrderedAndProject: no full sort, no shuffle of the data itself.
   */
  def sample(size: Int, seed: Long): DataFrame = {
    val key = col("row") * meta.width.toLong + col("col")
    val noNull = layers.map(L(_).isNotNull).reduce(_ && _)
    df.where(noNull)
      .withColumn("__h", sample_hash(key, seed))
      .orderBy(col("__h"), key)
      .limit(size)
      .drop("__h")
  }

  /**
   * Stratified sample: `size` pixels PER category of the strata layer
   * (raster.py:2244-2287, without replacement) — the `size` smallest
   * (sampleHash, key) rows of each stratum, i.e. exactly the
   * [[graft.functions.top_k]] bounded-heap AGGREGATE per stratum: ONE
   * hash aggregate with map-side partials, O(size) heap memory per
   * stratum, each mapper ships at most `size` rows per stratum. (The
   * round-3 formulation pre-filtered on an adaptive hash threshold so
   * a rank window only sorted ~8·size survivors — the aggregate
   * subsumes the whole threshold + window + deficient-stratum-fallback
   * machinery and is exact by construction.)
   */
  def sampleStrata(strata: DataFrame, size: Int, seed: Long): DataFrame = {
    val key = col("row") * meta.width.toLong + col("col")
    val noNull = layers.map(L(_).isNotNull).reduce(_ && _)
    val joined = df.where(noNull).join(strata, Seq("row", "col"))
    val payload = joined.columns.toSeq.filter(_ != "stratum")
    val item = struct((sample_hash(key, seed).as("__h") +: key.as("__key") +:
      payload.map(c => col(c).as(c))): _*)
    joined.groupBy(col("stratum"))
      .agg(graft.functions.top_k(item, size).as("__top"))
      .select(col("stratum"), explode(col("__top")).as("__it"))
      .select(payload.map(c => col(s"__it.$c").as(c)) :+ col("stratum"): _*)
  }

  /**
   * Stratified sample WITH replacement — the reference's actual draw
   * semantics (raster.py:2244-2287 uses np.random with replacement):
   * `size` independent seeded draws per stratum; draw `i` of stratum `s`
   * selects the row ranked `lcg(s·1000003 + i, seed) mod basis + 1` in
   * the stratum's (hash, key) order, where `basis = min(cnt, 8·size)`
   * — the draws select uniformly from a deterministic-uniform subset of
   * the stratum (the global (hash, key) prefix; the whole stratum when
   * it has ≤ 8·size rows). Output carries `draw_idx`; a row drawn
   * twice appears twice.
   *
   * Scale path: the prefix IS the [[graft.functions.top_k]] bounded-heap
   * aggregate (ascending array), so draw `i` is just
   * `element_at(top, target)` on the one-row-per-stratum aggregate —
   * ONE ObjectHashAggregate with map-side partials (each mapper ships
   * ≤ 8·size rows per stratum) and a generate, no window, no
   * counts/deficiency joins. (The round-4 formulation filtered on an
   * adaptive hash threshold and ranked ~8·size survivors under a
   * window, with a full-stratum fallback for deficient strata; the
   * aggregate's exact min-8·size prefix subsumes all of it.)
   */
  def sampleStrataWithReplacement(strata: DataFrame, size: Int, seed: Long): DataFrame = {
    val key = col("row") * meta.width.toLong + col("col")
    val noNull = layers.map(L(_).isNotNull).reduce(_ && _)
    val joined = df.where(noNull).join(strata, Seq("row", "col"))
    val payload = joined.columns.toSeq.filter(_ != "stratum")
    val item = struct((sample_hash(key, seed).as("__h") +: key.as("__key") +:
      payload.map(c => col(c).as(c))): _*)
    joined.groupBy(col("stratum"))
      .agg(graft.functions.top_k(item, size * 8).as("__top"))
      .withColumn("__basis",
        org.apache.spark.sql.functions.size(col("__top")).cast("long"))
      .withColumn("draw_idx", explode(sequence(lit(0), lit(size - 1))))
      .withColumn("__target",
        (sample_hash(col("stratum").cast("long") * lit(1000003L) + col("draw_idx"), seed)
          % col("__basis") + lit(1L)).cast("int"))
      .withColumn("__it", element_at(col("__top"), col("__target")))
      .select(payload.map(c => col(s"__it.$c").as(c)) ++
        Seq(col("stratum"), col("draw_idx")): _*)
  }
}
