package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CellIndex

/** Own session (needs withExtensions at build time). */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("SQL functions registered: cell_encode / cell_parent / url_lon usable from spark.sql") {
    val r = spark.sql(
      """SELECT cell_encode(12.3D, 45.6D, 12) AS c,
        |       cell_parent(cell_encode(12.3D, 45.6D, 12), 5) AS p,
        |       url_lon('https://example.com/a') AS lon,
        |       url_lat('https://example.com/a') AS lat,
        |       size(cell_disk(cell_encode(0.0D, 0.0D, 10), 1)) AS disk
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) === CellIndex.encode(12.3, 45.6, 12))
    assert(r.getLong(1) === CellIndex.parentAt(CellIndex.encode(12.3, 45.6, 12), 5))
    assert(r.getDouble(2) === graft.core.StablePoint.lonFromId(0) ||
      r.getDouble(2) === graft.core.StablePoint.fromUrl("https://example.com/a")._1)
    assert(r.getInt(4) === 9)
  }

  test("round-4 SQL functions: fingerprint / vec_dot / minhash_sig / shingle_ids / rings_contain / top_k") {
    val r = spark.sql(
      """SELECT text_fingerprint('hello world') AS fp,
        |       vec_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d,
        |       size(minhash_sig('one two three four')) AS nsig,
        |       size(shingle_ids('one two three four')) AS nsh,
        |       rings_contain(0.0D, 0.0D,
        |         array(array(-1.0D, 1.0D, 1.0D, -1.0D)),
        |         array(array(-1.0D, -1.0D, 1.0D, 1.0D))) AS inside
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) === graft.core.TextHash.fingerprint(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world")))
    assert(r.getDouble(1) === 1.5 * 2.0 + 2.0 * 0.5)
    assert(r.getInt(2) === 16)
    assert(r.getInt(3) === 2) // 4 words -> 2 distinct 3-shingles
    assert(r.getBoolean(4))
    // aggregate: top_k over a grouped relation from SQL
    val agg = spark.sql(
      """SELECT g, top_k(struct(v, id), 2) AS t FROM VALUES
        | (1, 5L, 10L), (1, 3L, 11L), (1, 4L, 12L), (2, 7L, 13L)
        | AS tab(g, v, id) GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(agg(0).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)) === Seq(3L, 4L))
    assert(agg(1).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)) === Seq(7L))
  }

  test("round-5 SQL functions: utm_easting/northing + utm_lon/lat round-trip; literal validation") {
    val r = spark.sql(
      """SELECT utm_easting(3.0D, 0.0D, 31, 1) AS e0,
        |       utm_northing(3.0D, 0.0D, 31, 1) AS n0,
        |       utm_lon(utm_easting(5.1D, 47.3D, 31, 1),
        |               utm_northing(5.1D, 47.3D, 31, 1), 31, 1) AS lon2,
        |       utm_lat(utm_easting(5.1D, 47.3D, 31, 1),
        |               utm_northing(5.1D, 47.3D, 31, 1), 31, 1) AS lat2
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) === 500000.0) // central meridian
    assert(r.getDouble(1) === 0.0)      // equator
    assert(math.abs(r.getDouble(2) - 5.1) < 1e-7)
    assert(math.abs(r.getDouble(3) - 47.3) < 1e-7)
    // the SQL functions run the same kernel as Warp's zone transforms:
    // bit-identical over a lon/lat grid across zone 31 (+-0.5 deg past
    // its edges) and a meter grid, both hemispheres
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    for (nf <- Seq(1, 0)) {
      val fwd = graft.operators.Warp.LonLatToUtm(31, nf == 1)
      spark.sql(
        s"""SELECT lon, lat, utm_easting(lon, lat, 31, $nf), utm_northing(lon, lat, 31, $nf)
           |FROM (SELECT -0.5D + CAST(id % 141 AS DOUBLE) * 0.05D AS lon,
           |             -80.0D + CAST(id DIV 141 AS DOUBLE) * 0.5D AS lat
           |      FROM range(${141 * 329}))""".stripMargin).collect().foreach { g =>
        val (e, n) = fwd.toSourcePt(g.getDouble(0), g.getDouble(1))
        assert(bits(g.getDouble(2)) === bits(e) && bits(g.getDouble(3)) === bits(n), s"$g north=$nf")
      }
      val inv = fwd.inverse
      spark.sql(
        s"""SELECT e, n, utm_lon(e, n, 31, $nf), utm_lat(e, n, 31, $nf)
           |FROM (SELECT 100000.0D + CAST(id % 81 AS DOUBLE) * 10000.0D AS e,
           |             CAST(id DIV 81 AS DOUBLE) * 100000.0D AS n FROM range(${81 * 94}))""".stripMargin)
        .collect().foreach { g =>
          val (lon, lat) = inv.toSourcePt(g.getDouble(0), g.getDouble(1))
          assert(bits(g.getDouble(2)) === bits(lon) && bits(g.getDouble(3)) === bits(lat), s"$g north=$nf")
        }
    }
    val ex = intercept[Exception](spark.sql("SELECT utm_lon(1.0D, 2.0D, id, 1) FROM range(1)"))
    assert(ex.getMessage.contains("integer literal"))
  }

  test("CellParentPruning rewrites parent-equality into a cell-id range (stats-prunable)") {
    import spark.implicits._
    val df = spark.range(100000)
      .withColumn("lon", (col("id") % 360L).cast("double") - 180.0)
      .withColumn("lat", (col("id") % 180L).cast("double") - 90.0)
      .selectExpr("id", "cell_encode(lon, lat, 12) AS cell")
    // anchor the probe on a cell that provably holds data rows (id=777's cell)
    val lon777 = (777L % 360L).toDouble - 180.0
    val lat777 = (777L % 180L).toDouble - 90.0
    val parent = CellIndex.parentAt(CellIndex.encode(lon777, lat777, 12), 5)
    val q = df.where(expr(s"cell_parent(cell, 5) = ${parent}L"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains(">=") && optimized.contains("<="),
      s"range bounds not injected:\n$optimized")
    // correctness: rewritten plan returns exactly the rows whose parent matches
    val got = q.select("id").collect().map(_.getLong(0)).toSet
    val exp = df.select("id", "cell").collect()
      .filter(r => CellIndex.parentAt(r.getLong(1), 5) === parent).map(_.getLong(0)).toSet
    assert(got === exp)
    assert(exp.nonEmpty)
  }

  test("range envelope is sound for every descendant resolution") {
    val parent = CellIndex.encode(-45.0, 30.0, 6)
    val shift = CellIndex.MaxRes - 6
    val hi = CellIndex.pack(CellIndex.MaxRes,
      ((CellIndex.ix(parent) + 1) << shift) - 1,
      ((CellIndex.iy(parent) + 1) << shift) - 1)
    val r0 = new scala.util.Random(3)
    (1 to 2000).foreach { _ =>
      // random point inside the parent cell, random finer res
      val n = 1L << 6
      val lonLo = CellIndex.ix(parent).toDouble / n * 360.0 - 180.0
      val latLo = CellIndex.iy(parent).toDouble / n * 180.0 - 90.0
      val lon = lonLo + r0.nextDouble() * (360.0 / n) * 0.999
      val lat = latLo + r0.nextDouble() * (180.0 / n) * 0.999
      val res = 6 + r0.nextInt(23)
      val child = CellIndex.encode(lon, lat, res)
      assert(CellIndex.parentAt(child, 6) === parent)
      assert(child >= parent && child <= hi, s"res=$res child=$child outside envelope")
    }
  }

  test("whole-operator PipAssignPlan: custom exec in the physical plan, results == expression path") {
    import graft.operators.SpatialJoin
    import graft.sources.{Fixtures, Pages}
    val pages = Pages.withIdPoint(
      Pages.fromDocuments(spark, "/root/testdata/sf0.001"), "doc_id")
      .select("doc_id", "lon", "lat")
    val viaPlan = SpatialJoin.assignPlan(pages, "lon", "lat", Fixtures.Polys)
    // physical nodeName strips the Exec suffix: the custom node prints as
    // "PipAssign". String-match the plan tree rather than exists(): the
    // pages source now carries a scan-parallelism repartition, whose
    // Exchange makes AQE wrap the plan in AdaptiveSparkPlanExec — the
    // custom exec sits inside the adaptive plan, where a top-level
    // exists() cannot see it.
    val planStr = viaPlan.queryExecution.executedPlan.toString
    assert(planStr.contains("PipAssign"), planStr.take(400))
    val a = viaPlan.select("doc_id", "poly_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = SpatialJoin.assign(pages, org.apache.spark.sql.functions.col("lon"),
        org.apache.spark.sql.functions.col("lat"), Fixtures.Polys)
      .select("doc_id", "poly_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === b)
    // downstream ops compose: filter + agg over the custom node's output
    assert(viaPlan.where(org.apache.spark.sql.functions.col("poly_id") >= 0).count() ===
      b.values.count(_ >= 0))
  }
}
