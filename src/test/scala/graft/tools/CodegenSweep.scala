package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch: run every query on sf0.001, then the SQL `utm_*` functions,
  * and bracket janino compile failures by query name (codegen errors
  * log between the markers). */
object CodegenSweep {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = graft.SparkSpec.session
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sweep(name)(fn(spark, dir))
    }
    spark.stop()
    // the SQL functions need a session built with the extensions; the
    // projection feeds a hash aggregate, the stage shape of q74
    val ext = SparkSession.builder().master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false").getOrCreate()
    sweep("sql_utm")(ext.sql(
      """SELECT FLOOR(utm_easting(lon, lat, 31, 1) / 1000.0) AS ek, COUNT(*) AS n,
        |       MAX(utm_lat(utm_easting(lon, lat, 31, 0), utm_northing(lon, lat, 31, 0), 31, 0)) AS lat2
        |FROM (SELECT CAST(id % 100 AS DOUBLE) * 0.06D AS lon,
        |             CAST(id DIV 100 AS DOUBLE) * 0.8D - 40.0D AS lat FROM range(10000))
        |GROUP BY 1""".stripMargin))
    ext.stop()
  }

  private def sweep(name: String)(df: => DataFrame): Unit = {
    System.err.println(s"QSTART $name"); System.err.flush()
    try df.collect()
    catch { case e: Throwable => System.err.println(s"QFAIL $name ${e.getMessage.take(100)}") }
    finally graft.plans.Caches.flush()
    System.err.println(s"QEND $name"); System.err.flush()
  }
}
