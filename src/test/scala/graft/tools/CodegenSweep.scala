package graft.tools

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Scratch: run every query on sf0.001, then the SQL `utm_*` functions,
  * and bracket janino compile failures by query name (codegen errors
  * log between the markers). After each query it prints
  * `QSIZE <name> <bytes>`, the largest method the query's whole-stage
  * code compiles to, and marks it `QHUGE` at or above HotSpot's
  * [[HugeMethodLimit]]: the JIT never compiles such a method, so every
  * row through it runs interpreted. */
object CodegenSweep {

  /** HotSpot's `HugeMethodLimit` (bytecode bytes, `-XX:+DontCompileHugeMethods`). */
  val HugeMethodLimit = 8000

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
    try {
      val d = df
      d.collect()
      val bytes = maxMethodBytes(d)
      System.err.println(s"QSIZE $name $bytes${if (bytes >= HugeMethodLimit) " QHUGE" else ""}")
    } catch { case e: Throwable => System.err.println(s"QFAIL $name ${e.getMessage.take(100)}") }
    finally graft.plans.Caches.flush()
    System.err.println(s"QEND $name"); System.err.flush()
  }

  /** Every WholeStageCodegen subtree of an executed plan, including those
    * under AQE's final plan and query stages and inside the plans of
    * cached relations it scans. */
  def codegenStages(plan: SparkPlan): Seq[WholeStageCodegenExec] = {
    val seen = mutable.Set.empty[SparkPlan]
    val out = mutable.ArrayBuffer.empty[WholeStageCodegenExec]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case w: WholeStageCodegenExec => out += w
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** Bytecode size of the largest method the subtree compiles to. */
  def maxMethodBytes(stage: WholeStageCodegenExec): Int =
    CodeGenerator.compile(stage.doCodeGen()._2)._2.maxMethodCodeSize

  /** Largest generated method over every codegen subtree of `df`'s
    * executed plan (run the plan first, so AQE's stages are final). */
  def maxMethodBytes(df: DataFrame): Int =
    (0 +: codegenStages(df.queryExecution.executedPlan).map(maxMethodBytes)).max
}
