package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.storage.StorageLevel

import graft.core.PolygonSet
import graft.functions._
import graft.operators.SpatialJoin

object Pipeline {
  val Rows = 1200000L
  val Parts = 8
  val NPolys = 3000
  /** Files (of [[Parts]]) each CPU-confined scaling child reads. */
  val ChildFiles = Parts / 2
  val WarmPasses = 6
  val LadderReps = 3
  /** Longest a scaling child may run before it is killed and counted as a failed check. */
  val ChildTimeoutS = 60

  def pagesPath(spark: SparkSession, seed: Long, rows: Long, parts: Int): String =
    Gen.cached(Main.Data, "pages", seed, s"$rows/$parts")(p => Gen.pages(spark, p, rows, seed, parts))

  /**
   * Ladder rungs of the north-rule job: scan, +point, +PIP, +cell, +rollup.
   * `carry` names page columns kept beside `url` through the per-row rungs.
   */
  def rungs(pages: DataFrame, polys: PolygonSet, carry: Seq[String] = Nil): Seq[DataFrame] = {
    val scan = pages.select(("url" +: carry).map(col): _*)
    val point = scan.withColumn("lon", url_lon(col("url"))).withColumn("lat", url_lat(col("url")))
    val pip = SpatialJoin.assign(point, col("lon"), col("lat"), polys)
    val cell = pip.withColumn("cell", cell_encode(col("lon"), col("lat"), 12))
    val rollup = cell.groupBy(col("poly_id"), tile).agg(count(lit(1)).as("n"))
    Seq(scan, point, pip, cell, rollup)
  }

  /** The tile of a rung's `cell`: its level-5 parent. */
  def tile: Column = cell_parent(col("cell"), 5).as("tile")

  def job(pages: DataFrame, polys: PolygonSet): DataFrame = rungs(pages, polys).last

  /** `--child-pipeline <pages> <cores> <files> <reps> <seed>`: prints `CHILD_WALL <median s>`. */
  def child(args: List[String]): Unit = {
    val List(path, cores, files, reps, seed) = args
    val spark = Main.session(cores.toInt)
    val parts = new File(path).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.take(files.toInt)
    val pages = spark.read.parquet(parts.toSeq: _*)
    val polys = Gen.polygons(NPolys, seed.toLong)
    Main.fold(job(pages, polys))
    val walls = (1 to reps.toInt).map(_ => Main.nanos(Main.fold(job(pages, polys)))._2)
    Main.close(spark)
    println(s"CHILD_WALL ${Main.median(walls)}")
  }

  private def onPath(exe: String): Option[String] =
    sys.env.getOrElse("PATH", "").split(File.pathSeparator).map(d => new File(d, exe))
      .find(_.canExecute).map(_.getPath)

  /**
   * Median pipeline wall in a child JVM confined to `cores` CPUs (taskset +
   * ActiveProcessorCount); None when the child fails or runs out of time.
   */
  def childWall(path: String, cores: Int, seed: Long): Option[Double] = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-XX:ActiveProcessorCount"))
    val javaCmd = Seq(sys.props("java.home") + "/bin/java") ++ jvmArgs ++
      Seq(s"-XX:ActiveProcessorCount=$cores", "-Xmx2g", "-cp", sys.props("java.class.path"),
        "graftbench.Main", "--child-pipeline", path, cores.toString, ChildFiles.toString, "2", seed.toString)
    val cmd = onPath("taskset").map(ts => Seq(ts, "-c", s"0-${cores - 1}")).getOrElse(Nil) ++ javaCmd
    val out = new File(Main.Work, s"child-$cores.out")
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.INHERIT)
      .redirectOutput(out).start()
    val ended = p.waitFor(ChildTimeoutS, java.util.concurrent.TimeUnit.SECONDS)
    if (!ended) { p.destroyForcibly(); p.waitFor() }
    val wall = if (!ended || p.exitValue != 0) None
      else scala.io.Source.fromFile(out).getLines().toList.reverse
        .collectFirst { case l if l.startsWith("CHILD_WALL ") => l.stripPrefix("CHILD_WALL ").toDouble }
    out.delete()
    wall
  }
}

/**
 * `pipeline`: the north-rule job on seeded pages — column-pruned scan,
 * url_lon/url_lat, broadcast R-tree PIP against a seeded few-thousand
 * polygon layer with holes, cell_encode, (poly_id, tile) rollup.
 */
final class Pipeline(seed: Long, inject: String) extends Workload {
  import Pipeline._
  val name = "pipeline"
  private var path: String = _
  private val polys = Gen.polygons(NPolys, seed)
  private var pages: DataFrame = _
  private var first: Option[Main.Fold] = None
  private var commit: Option[TileCommit.Result] = None
  private var ladderFold: Seq[Double] = Nil
  private var ladderBase: Seq[Double] = Nil
  private var scalingFailed = false

  def prepare(spark: SparkSession): Unit = path = pagesPath(spark, seed, Rows, Parts)

  def setup(spark: SparkSession): Unit = {
    pages = spark.read.parquet(path)
    Main.fold(job(pages, polys), Some("n"))
  }

  /** The JIT keeps speeding the PIP kernel up for the first ~10 passes: measure past that. */
  override def warm(spark: SparkSession): Unit =
    (1 to WarmPasses).foreach(_ => Main.fold(job(pages, polys), Some("n")))

  def unit(spark: SparkSession, i: Int, t: Option[Tracer]): Seq[OpResult] = {
    val (f, wall) = Main.nanos(Tracer.traced(t, "op:pipeline", i)(Main.fold(job(pages, polys), Some("n"))))
    val ok = f.sum == Rows && first.forall(_ == f)
    if (first.isEmpty) first = Some(f)
    Seq(OpResult("pipeline", wall, ok, s"rows=${f.sum} of $Rows, fp=${f.fp} first=${first.map(_.fp)}"))
  }

  /**
   * Brute-force last-wins PIP over every polygon on a sample of pages, then
   * the checkpointed write of the full assignment ([[TileCommit]]).
   */
  def check(spark: SparkSession): (Int, Int, Seq[String]) = {
    val sample = rungs(pages.limit(3000), polys)(2).select("lon", "lat", "poly_id").collect()
    val bad = sample.count(r => Gen.bruteWinner(polys, r.getDouble(0), r.getDouble(1)) != r.getInt(2))
    val hits = sample.count(_.getInt(2) >= 0)
    val ok = bad == 0 && sample.length == 3000 && hits > 0
    val pip = if (ok) Nil else Seq(s"pip sample: $bad of ${sample.length} disagree with brute force, $hits hits")
    val c = TileCommit.run(spark, pages, polys, Rows, seed, inject)
    commit = Some(c)
    (1 + c.checks, pip.size + c.notes.size, pip ++ c.notes)
  }

  /**
   * The ladder: each rung's fold wall (min of [[LadderReps]]) less the fold
   * wall of the same output read back from Spark's in-memory cache (min of
   * [[LadderReps]]), so the job overhead and the harness's hashing of the
   * rung's columns cancel and each delta is the cost of the kernel the rung
   * adds. Then the scaling pair of child JVMs.
   */
  def layers(spark: SparkSession, t: Tracer, ops: Seq[OpResult]): Map[String, Double] = {
    val rs = rungs(pages, polys)
    for (rep <- 0 until LadderReps; (df, k) <- rs.zipWithIndex) t.span(s"ladder:r$k", 1000 + rep * 10 + k)(Main.fold(df))
    for ((df, k) <- rs.zipWithIndex) {
      val cached = df.persist(StorageLevel.MEMORY_ONLY)
      Main.fold(cached)
      for (rep <- 0 until LadderReps) t.span(s"ladder:base$k", 2000 + rep * 10 + k)(Main.fold(cached))
      cached.unpersist(blocking = true)
    }
    val st = t.ops(_.startsWith("ladder:"))
    def min(name: String) = st.filter(_.span.name == name).map(_.wall).min
    ladderFold = rs.indices.map(k => min(s"ladder:r$k"))
    ladderBase = rs.indices.map(k => min(s"ladder:base$k"))
    def rung(k: Int) = ladderFold(k) - ladderBase(k)
    val hit = job(pages, polys).where(col("poly_id") >= 0).agg(sum(col("n"))).head().getLong(0)
    val eff = for (t1 <- childWall(path, 1, seed); t4 <- childWall(path, 4, seed)) yield t1 / (4 * t4)
    scalingFailed = eff.isEmpty
    Map(
      "sources.scan_s" -> rung(0),
      "sources.scan_bytes" -> scanBytes(rs.head),
      "functions.point_s" -> (rung(1) - rung(0)),
      "operators.pip_s" -> (rung(2) - rung(1)),
      "functions.cell_s" -> (rung(3) - rung(2)),
      "pipeline.rollup_s" -> (rung(4) - rung(3)),
      "operators.pip_hit_frac" -> hit.toDouble / Rows,
      "pipeline.scaling_eff" -> eff.getOrElse(0.0)) ++ commit.toSeq.flatMap(c => Seq(
      "plans.ckpt_write_s" -> c.writeS, "plans.ckpt_lineage_s" -> c.lineageS,
      "plans.ckpt_files" -> c.files.toDouble, "plans.ckpt_bytes_per_row" -> c.bytesPerRow,
      "plans.ckpt_resume_s" -> c.resumeS))
  }

  override def layerChecks: (Int, Seq[String]) =
    (1, if (scalingFailed) Seq("scaling: a CPU-confined child JVM failed or timed out") else Nil)

  /**
   * Bytes the pruned scan must read: compressed size of the column chunks
   * in its read schema, from the parquet footers of the files it scans.
   */
  private def scanBytes(df: DataFrame): Double = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }.map { s =>
      val cols = s.requiredSchema.fieldNames.toSet
      s.relation.location.inputFiles.toSeq.map { f =>
        val in = HadoopInputFile.fromPath(new Path(f), conf)
        val r = ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(c => cols.contains(c.getPath.toDotString)).map(_.getTotalSize).sum
        finally r.close()
      }.sum
    }.sum.toDouble
  }

  def detail(ops: Seq[OpResult]): Map[String, Any] = {
    Map("rows" -> Rows, "polygons" -> NPolys, "pipeline_rows_per_s" -> Rows / unitSeconds(ops),
      "scaling_input_rows" -> Rows * ChildFiles / Parts) ++
      (if (ladderBase.isEmpty) Nil else Seq("ladder_fold_s" -> ladderFold, "ladder_fold_base_s" -> ladderBase)) ++
      commit.toSeq.flatMap(c => Seq(
      "tile_write_rows_per_s" -> Rows / (c.writeS + c.lineageS), "tile_write_resume_s" -> c.resumeS))
  }
}
