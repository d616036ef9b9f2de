package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PolygonSet
import graft.plans.Checkpoint

/**
 * The write end of the north-rule job, run once per `pipeline` run after the
 * measure window: the per-record assignment `(url, text, poly_id, cell,
 * tile)` is committed through `Checkpoint.stage` (snapshot + lineage +
 * metrics tables) to a fresh root and fingerprint, so nothing resumes
 * silently; then the same stage is called again and must resume; then
 * md5(`text`) per `url` must equal the input's for every url.
 */
object TileCommit {
  final case class Result(writeS: Double, lineageS: Double, resumeS: Double, files: Int,
                          bytesPerRow: Double, checks: Int, notes: Seq[String])

  /** The per-record assignment: the `pipeline` ladder's cell rung, carrying `text`, plus its tile. */
  def assign(pages: DataFrame, polys: PolygonSet): DataFrame =
    Pipeline.rungs(pages, polys, Seq("text"))(3).select(col("url"), col("text"), col("poly_id"), col("cell"), Pipeline.tile)

  /** `inject = "text"` corrupts one text row in a copy of the snapshot (the benchmark's own test). */
  def run(spark: SparkSession, pages: DataFrame, polys: PolygonSet, rows: Long, seed: Long,
          inject: String): Result = {
    val root = new File(Main.Work, s"tile_commit-${System.nanoTime()}").getAbsolutePath
    val fp = Checkpoint.fingerprint(Gen.Version, seed.toString, root)
    def stage() = Main.nanos(Checkpoint.stage(spark, root, "assign", fp)(assign(pages, polys)))
    val t0 = System.currentTimeMillis()
    val (st, wall) = stage()
    val snapDir = new File(root, "assign")
    // the snapshot's _SUCCESS commit splits the stage into the data write and the lineage + metrics tables
    val writeS = math.min(wall, math.max(0L, new File(snapDir, "_SUCCESS").lastModified() - t0) / 1000.0)
    val files = snapDir.listFiles().filter(_.getName.endsWith(".parquet"))
    val bytes = files.map(_.length).sum
    val n = spark.read.parquet(s"$root/assign__metrics").head().getAs[Long]("n_rows")
    val (again, resumeS) = stage()
    val snap =
      if (inject != "text") again.df
      else {
        val victim = again.df.select("url").orderBy("url").head().getString(0)
        val copy = new File(Main.Work, "tile_commit_corrupt").getAbsolutePath
        again.df.withColumn("text", when(col("url") === victim, concat(col("text"), lit("!"))).otherwise(col("text")))
          .write.mode("overwrite").parquet(copy)
        spark.read.parquet(copy)
      }
    val got = snap.select(col("url"), md5(col("text").cast("binary")).as("m"))
    val want = pages.select(col("url"), md5(col("text").cast("binary")).as("m0"))
    val bad = got.join(want, Seq("url"), "full_outer").where(!(col("m") <=> col("m0"))).count()
    val snapRows = snap.count()
    Gen.deleteTree(new File(root))
    val notes = Seq(
      if (!st.resumed && n == rows) "" else s"stage: resumed=${st.resumed}, metrics n_rows=$n of $rows",
      if (again.resumed) "" else "re-staging the same root and fingerprint did not resume",
      if (bad == 0 && snapRows == rows) "" else s"snapshot: $snapRows rows of $rows, md5(text) differs for $bad urls"
    ).filter(_.nonEmpty)
    Result(writeS, wall - writeS, resumeS, files.length, bytes.toDouble / rows, 3, notes)
  }
}
