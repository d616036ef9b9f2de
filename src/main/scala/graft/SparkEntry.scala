package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GridMeta
import graft.functions._
import graft.operators.SpatialJoin
import graft.sources.{Fixtures, Pages, RasterStack}

/**
 * Driver contract — every implemented operator from SURVEY.md §2 gets a
 * `queries` entry; oracle-expressible ones also get a DuckDB SQL twin in
 * `oracleSql` (bit-exact by construction: every derived column is integer
 * arithmetic or identical-order IEEE double arithmetic in both engines).
 */
object SparkEntry {

  /** Test grid mirroring the reference nc fixture shape (FIXTURES.md §1). */
  val G: GridMeta = GridMeta.TestGrid
  /** Cell resolution for tiling/joins: ~0.088 deg cells at res 12. */
  val Res = 12
  /** Tile shape (th x tw) — reference default block_shape analogue (raster.py:140). */
  val Th = 64; val Tw = 64

  private val TwoPow58 = 288230376151711744L
  private val TwoPow29 = 536870912L

  /** SQL twin of CellEncode at a fixed res (lon/lat in derivation range, no clamp needed). */
  private def cellSql(res: Int, lon: String = "lon", lat: String = "lat"): String = {
    val n = 1L << res
    s"(${res.toLong * TwoPow58} + CAST(FLOOR(($lon + 180.0) / 360.0 * $n) AS BIGINT) * $TwoPow29" +
      s" + CAST(FLOOR(($lat + 90.0) / 180.0 * $n) AS BIGINT))"
  }

  /** Pages derived from documents.parquet with point + grid projection. */
  private def pages(s: SparkSession, dir: String): DataFrame =
    Pages.withGrid(Pages.fromDocuments(s, dir), "doc_id", G)

  /** Oracle twin: the same derivation as a SQL subquery over `documents`. */
  private val pagesSql: String =
    s"""(SELECT doc_id, text, lang,
       |  'https://host-' || (doc_id % 97) || '.example/d/' || doc_id AS url,
       |  ${Pages.lonSql("doc_id")} AS lon, ${Pages.latSql("doc_id")} AS lat
       | FROM documents)""".stripMargin

  private def gridJoinSql(r: String = "grow", c: String = "gcol"): String =
    s"(SELECT row, col, ${RasterStack.NcBands.map(b => RasterStack.bandSql("row", "col", b) + s" AS ${b.name}").mkString(", ")} FROM ${RasterStack.gridSql(G)})"

  private val probeSql: String =
    s"""(SELECT *, ${Pages.rowSql(G)} AS grow, ${Pages.colSql(G)} AS gcol FROM $pagesSql p)"""

  // =====================================================================
  // Flagship: the full north-rule pipeline — cell encode -> plan-shipped
  // PIP index -> tile assignment -> per-(polygon, tile) rollup.
  // =====================================================================
  def entry(spark: SparkSession): DataFrame = {
    val p = SpatialJoin.assign(pages(spark, "/root/testdata/sf0.001"), col("lon"), col("lat"), Fixtures.Polys)
      .withColumn("cell", cell_encode(col("lon"), col("lat"), Res))
      .withColumn("tile", when(col("inb"), tile_id(col("grow"), col("gcol"), G, Th, Tw)).otherwise(-1L))
    p.groupBy("poly_id", "tile")
      .agg(count(lit(1)).as("n_pages"), countDistinct(col("lang")).as("n_langs"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = baseQueries ++
    graft.queries.StackQueries.queries ++ graft.queries.GeoQueries.queries ++
    graft.queries.PipelineQueries.queries ++ graft.queries.ScaleQueries.queries

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cell encoding + tile assignment (north star's batched Catalyst stage).
    "q01_cell_tile" -> ((s, dir) => {
      pages(s, dir)
        .withColumn("cell", cell_encode(col("lon"), col("lat"), Res))
        .withColumn("tile", when(col("inb"), tile_id(col("grow"), col("gcol"), G, Th, Tw)).otherwise(-1L))
        .select(col("doc_id"), col("lon"), col("lat"), col("cell"), col("tile"))
    }),

    // Plan-shipped PIP index point-in-polygon assignment, last-wins.
    "q02_pip_assign" -> ((s, dir) => {
      SpatialJoin.assign(pages(s, dir), col("lon"), col("lat"), Fixtures.Polys)
        .select(col("doc_id"), col("poly_id").cast("int").as("poly_id"))
    }),

    // Byte-identity invariant: text untouched through the spatial pipeline.
    "q03_text_invariant" -> ((s, dir) => {
      SpatialJoin.assign(pages(s, dir), col("lon"), col("lat"), Fixtures.Polys)
        .withColumn("cell", cell_encode(col("lon"), col("lat"), Res))
        .select(col("url"), md5(col("text").cast("binary")).as("text_md5"))
    }),

    // extract_xy: point-probe left-outer join against the raster stack
    // (reference raster.py:2300-2391 — out-of-bounds probes yield nulls).
    "q04_extract_xy" -> ((s, dir) => {
      val probes = pages(s, dir).select("doc_id", "grow", "gcol")
      val stack = RasterStack.stack(s, G)
        .withColumnRenamed("row", "grow").withColumnRenamed("col", "gcol")
        .drop("x", "y")
      // outer-preserving probe broadcast: inner BHJ (build = probes,
      // stream = pixel table) ∪ anti-join remainder with null layers
      val layers = Seq("b1", "b2", "b3", "b4", "b5", "b7")
      graft.operators.Extract.probeOuterBroadcast(stack, probes, Seq("grow", "gcol"), layers)
        .select(col("doc_id"), col("grow"), col("gcol"),
          col("b1"), col("b2"), col("b3"), col("b4"), col("b5"), col("b7"))
    }),

    // Cover-cells PIP join (the scale path): one row per (page, polygon).
    "q05_pip_join" -> ((s, dir) => {
      SpatialJoin.pipJoin(pages(s, dir), "lon", "lat", Fixtures.Polys,
        SpatialJoin.chooseCoverRes(Fixtures.Polys))
        .select(col("doc_id"), col("poly_id").cast("int").as("poly_id"))
    }),

    // TABLE-driven PIP join (the layer-too-big-for-the-driver path):
    // polygons as a DataFrame of vertex arrays, cover cells exploded as
    // Column arithmetic, even-odd ray-cast refine as a codegen'd fold —
    // no PolygonSet, no broadcast, both sides shuffle on cell id. Same
    // oracle as q05: the two physical paths must agree exactly.
    "q58_pip_table" -> ((s, dir) => {
      import s.implicits._
      val polysDf = Fixtures.Rects.map(r =>
        (r.id, Seq(r.xmin, r.xmax, r.xmax, r.xmin), Seq(r.ymin, r.ymin, r.ymax, r.ymax)))
        .toDF("poly_id", "xs", "ys")
      SpatialJoin.pipJoinTable(pages(s, dir), "lon", "lat", polysDf, "poly_id",
          SpatialJoin.chooseCoverRes(Fixtures.Polys))
        .select(col("doc_id"), col("poly_id").cast("int").as("poly_id"))
    }),

    // END-TO-END curation pipeline (the composition a real corpus run
    // executes): planted exact dups -> PIP region assignment -> exact
    // dedup representatives -> token/quality gates -> keep/drop with a
    // first-failing-rule reason code. Every stage is an existing
    // oracle-checked primitive; this query pins their COMPOSITION.
    "q106_curation" -> ((s, dir) => {
      val base = pages(s, dir)
      val clones = base.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      val all = SpatialJoin.assign(base.unionByName(clones),
        col("lon"), col("lat"), Fixtures.Polys)
      val keep = all.groupBy(md5(col("text").cast("binary")).as("__md5"))
        .agg(min(col("doc_id")).as("keep_id"))
      all.withColumn("__md5", md5(col("text").cast("binary")))
        .join(keep, Seq("__md5"))
        .withColumn("n_tok", graft.operators.TextAnalysis.tokenCount(col("text")))
        .withColumn("__q", graft.operators.TextAnalysis.qualityScore(col("text")))
        .withColumn("reason",
          when(col("doc_id") =!= col("keep_id"), "dup")
            .when(col("n_tok") < 20, "short")
            .when(col("poly_id") < 0, "offgrid")
            .when(col("__q") < 0.35, "lowq")
            .otherwise("keep"))
        .select(col("doc_id"), col("poly_id").cast("int").as("poly_id"),
          col("n_tok").cast("long").as("n_tok"), col("reason"))
    }),

    // Geodesic (haversine) distance from every page to a reference
    // point — shared-Ar chain with composed atan2; mm-quantized (SIN
    // 1-ulp). Companion to the planar q25 GeoDist.
    "q108_haversine" -> ((s, dir) => {
      val d = graft.operators.Geom.haversine[org.apache.spark.sql.Column](
        col("lon"), col("lat"), lit(2.5), lit(48.9))(graft.operators.Utm.ColAr)
      pages(s, dir).select(col("doc_id"),
        floor(d * lit(1000.0)).cast("long").as("dist_mm"))
    }),

    // TABLE-driven PIP with HOLES and a MULTIPOLYGON (the general
    // GeoDataFrame geometry surface): poly 100 is a donut (rect shell,
    // rect hole), poly 101 is two disjoint rect shells in one row —
    // even-odd across rings (pipJoinTableRings).
    "q66_pip_holes" -> ((s, dir) => {
      import s.implicits._
      def rectXs(x0: Double, x1: Double) = Seq(x0, x1, x1, x0)
      def rectYs(y0: Double, y1: Double) = Seq(y0, y0, y1, y1)
      val polysDf = Seq(
        (100, Seq(rectXs(-60.0, 40.0), rectXs(-20.0, 10.0)),
              Seq(rectYs(-40.0, 40.0), rectYs(-10.0, 20.0))),
        (101, Seq(rectXs(50.0, 90.0), rectXs(-120.0, -80.0)),
              Seq(rectYs(-30.0, 10.0), rectYs(10.0, 50.0))))
        .toDF("poly_id", "xss", "yss")
      SpatialJoin.pipJoinTableRings(pages(s, dir), "lon", "lat", polysDf, "poly_id", 4)
        .select(col("doc_id"), col("poly_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q01_cell_tile" ->
      s"""SELECT doc_id, lon, lat, ${cellSql(Res)} AS cell,
         | CASE WHEN grow >= 0 AND grow < ${G.height} AND gcol >= 0 AND gcol < ${G.width}
         |      THEN (grow // $Th) * ${graft.core.Tiles.tilesPerRow(G.width, Tw)} + (gcol // $Tw)
         |      ELSE -1 END AS tile
         |FROM $probeSql""".stripMargin,

    "q02_pip_assign" ->
      s"SELECT doc_id, CAST(${Fixtures.winnerSql()} AS INT) AS poly_id FROM $pagesSql",

    "q03_text_invariant" ->
      s"SELECT url, md5(text) AS text_md5 FROM $pagesSql",

    "q04_extract_xy" ->
      s"""SELECT p.doc_id, p.grow, p.gcol, ${RasterStack.NcBands.map(b => s"g.${b.name}").mkString(", ")}
         |FROM $probeSql p LEFT JOIN ${gridJoinSql()} g
         |  ON g.row = p.grow AND g.col = p.gcol""".stripMargin,

    "q05_pip_join" ->
      s"""SELECT p.doc_id, CAST(r.poly_id AS INT) AS poly_id
         |FROM $pagesSql p JOIN ${Fixtures.rectsValuesSql} r
         |  ON p.lon > r.xmin AND p.lon < r.xmax AND p.lat > r.ymin AND p.lat < r.ymax""".stripMargin,

    // same relation as q05: both PIP physical paths must produce it
    "q58_pip_table" ->
      s"""SELECT p.doc_id, CAST(r.poly_id AS INT) AS poly_id
         |FROM $pagesSql p JOIN ${Fixtures.rectsValuesSql} r
         |  ON p.lon > r.xmin AND p.lon < r.xmax AND p.lat > r.ymin AND p.lat < r.ymax""".stripMargin,

    "q106_curation" -> {
      val ntok = graft.operators.TextAnalysis.tokenCountSql("text")
      val q = graft.operators.TextAnalysis.qualityScoreSql("text")
      s"""WITH pp AS (
         |  SELECT * FROM $pagesSql
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text, lang, url, lon, lat
         |  FROM $pagesSql WHERE doc_id % 10 = 0),
         |k AS (SELECT md5(text) AS m, MIN(doc_id) AS keep_id FROM pp GROUP BY 1)
         |SELECT pp.doc_id, CAST(${Fixtures.winnerSql("pp.lon", "pp.lat")} AS INT) AS poly_id,
         |  CAST($ntok AS BIGINT) AS n_tok,
         |  CASE WHEN pp.doc_id <> k.keep_id THEN 'dup'
         |       WHEN $ntok < 20 THEN 'short'
         |       WHEN ${Fixtures.winnerSql("pp.lon", "pp.lat")} < 0 THEN 'offgrid'
         |       WHEN $q < CAST('0.35' AS DOUBLE) THEN 'lowq'
         |       ELSE 'keep' END AS reason
         |FROM pp JOIN k ON md5(pp.text) = k.m""".stripMargin
    },

    "q108_haversine" -> {
      import graft.sources.OracleLit
      val d = graft.operators.Geom.haversine[String](
        "lon", "lat", OracleLit.d(2.5), OracleLit.d(48.9))(graft.operators.Utm.SqlAr)
      s"""SELECT doc_id, CAST(FLOOR(($d) * 1000.0) AS BIGINT) AS dist_mm
         |FROM $pagesSql""".stripMargin
    },

    // even-odd over axis-aligned rects == strict range checks for
    // points in general position (fixture points never sit on ring
    // edges): donut = outer minus hole; multipolygon = union of shells
    "q66_pip_holes" ->
      s"""SELECT doc_id, CAST(100 AS INT) AS poly_id FROM $pagesSql
         |WHERE lon > -60 AND lon < 40 AND lat > -40 AND lat < 40
         |  AND NOT (lon > -20 AND lon < 10 AND lat > -10 AND lat < 20)
         |UNION ALL
         |SELECT doc_id, CAST(101 AS INT) AS poly_id FROM $pagesSql
         |WHERE (lon > 50 AND lon < 90 AND lat > -30 AND lat < 10)
         |   OR (lon > -120 AND lon < -80 AND lat > 10 AND lat < 50)""".stripMargin
  ) ++ graft.queries.StackQueries.oracles ++ graft.queries.GeoQueries.oracles ++
    graft.queries.PipelineQueries.oracles ++ graft.queries.ScaleQueries.oracles
}
