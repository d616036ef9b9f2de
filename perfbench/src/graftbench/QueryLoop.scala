package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * `query_loop`: catalog queries (`graft.SparkEntry.queries`) on a fixed
 * generated fixture, each timed on its FIRST execution in a fresh JVM,
 * after one warm-up query, in the fixed order of [[QueryLoop.Timed]] (a
 * first execution's cost depends on what ran before it, so the order is
 * part of the workload). The fixture is generated from a fixed seed so
 * that the goldens hold: `--seed` does not change this workload's inputs.
 * Each query's output fold (row count + two order-insensitive hash sums)
 * must equal its golden in `goldens.tsv`.
 */
final class QueryLoop(inject: String) extends Workload {
  import QueryLoop._
  val name = "query_loop"
  private var dir: String = _
  private val order = Timed
  private lazy val goldens: Map[String, String] = {
    val g = readGoldens()
    if (inject == "golden") g.updated(order.head, "0:0:0") else g // self-test fault: one wrong golden
  }

  def prepare(spark: SparkSession): Unit = dir = fixture(spark)

  def setup(spark: SparkSession): Unit = {
    spark.read.parquet(s"$dir/documents.parquet").count()
    spark.read.parquet(s"$dir/events.parquet").count()
    runQuery(spark, WarmUp)
  }

  private def runQuery(spark: SparkSession, q: String): Main.Fold =
    try Main.fold(graft.SparkEntry.queries(q)(spark, dir)) finally graft.plans.Caches.flush()

  override def splitsWindow: Boolean = false

  /** The window is the whole list, each query once, whatever `--seconds` says. */
  override def done(i: Int, elapsed: Double, seconds: Double): Boolean = i >= order.size

  def unit(spark: SparkSession, i: Int, t: Option[Tracer]): Seq[OpResult] = {
    val q = order(i)
    val (f, wall) = Main.nanos(Tracer.traced(t, s"op:${family(q)}:$q", i) {
      try Some(runQuery(spark, q)) catch { case e: Exception => System.err.println(s"$q threw: $e"); None }
    })
    val got = f.map(_.fp).getOrElse("threw")
    Seq(OpResult(q, wall, goldens.get(q).contains(got), s"fold=$got golden=${goldens.getOrElse(q, "none")}"))
  }

  def check(spark: SparkSession): (Int, Int, Seq[String]) = (0, 0, Nil)

  def layers(spark: SparkSession, t: Tracer, ops: Seq[OpResult]): Map[String, Double] = {
    val byFam = Layers.families.flatMap { fam =>
      val st = t.ops(_.startsWith(s"op:$fam:"))
      Seq(s"queries.${fam}_s" -> Layers.mean(st.map(_.wall)),
        s"queries.${fam}_jobs" -> Layers.mean(st.map(_.jobs.toDouble)),
        s"queries.${fam}_codegen_s" -> Layers.mean(st.map(_.codegenS)))
    }.toMap
    val byOp = Layers.opQueries.toSeq.flatMap { case (op, q) =>
      val st = t.ops(_.endsWith(s":$q"))
      Seq(s"operators.${op}_s" -> Layers.mean(st.map(_.wall)),
        s"operators.${op}_jobs" -> Layers.mean(st.map(_.jobs.toDouble)),
        s"operators.${op}_shuffle_bytes" -> Layers.mean(st.map(_.shuffleWrite.toDouble)))
    }.toMap
    // the query list runs once, so the overhead comes from the (warm) warm-up
    // query, alternately untraced and traced
    val walls = (0 until 6).map { k =>
      if (k % 2 == 0) t.stop() else t.start()
      Main.nanos(runQuery(spark, WarmUp))._2
    }
    val (untraced, traced) = walls.zipWithIndex.partition(_._2 % 2 == 0)
    byFam ++ byOp + ("trace.overhead_frac" -> (Main.median(traced.map(_._1)) / Main.median(untraced.map(_._1)) - 1.0))
  }

  def detail(ops: Seq[OpResult]): Map[String, Any] = {
    val walls = ops.map(_.wall).sorted
    Map("queries" -> ops.size, "query_loop_s" -> walls.sum, "query_p50_s" -> Main.median(walls),
      "query_p90_s" -> walls((0.9 * (walls.size - 1)).round.toInt))
  }
}

object QueryLoop {
  val FixtureSeed = 42L
  val FixtureDocs = 5000
  val FixtureEvents = 100000
  val WarmUp = "q01_cell_tile"

  val Size = 20

  /**
   * The timed list, drawn by a fixed rule from the catalog queries that run
   * on the fixture (those with a golden), less the warm-up query:
   *  - each family gets [[Size]] × its share of that population, rounded by
   *    largest remainder (ties by family name), but at least its operator
   *    queries ([[Layers.opQueries]]);
   *  - within a family, its operator queries, then the others (in query
   *    number order) at the evenly spaced positions ⌊(j + ½)·m/k⌋;
   *  - the list runs in name order, as the full loop of `--write-goldens` does.
   */
  lazy val Timed: Seq[String] = stratified(readGoldens().keySet - WarmUp, Size)

  def stratified(pop: Set[String], n: Int): Seq[String] = {
    val forced = Layers.opQueries.values.toSet
    val byFam = pop.toSeq.groupBy(family).map { case (f, q) => f -> q.sortBy(number) }
    val quota = byFam.map { case (f, q) => f -> n.toDouble * q.size / pop.size }
    val floor = byFam.map { case (f, q) => f -> math.max(quota(f).toInt, q.count(forced)) }
    val raised = byFam.keys.toSeq.filter(f => floor(f) == quota(f).toInt)
      .sortBy(f => (quota(f).toInt - quota(f), f)).take(n - floor.values.sum).toSet
    byFam.toSeq.flatMap { case (f, q) =>
      val k = floor(f) + (if (raised(f)) 1 else 0)
      val (ops, rest) = q.partition(forced)
      val m = rest.size; val r = k - ops.size
      ops ++ (0 until r).map(j => rest(((j + 0.5) * m / r).toInt))
    }.sorted
  }

  private def number(q: String): Int = q.drop(1).takeWhile(_ != '_').toInt

  private def qs(ns: Int*): Seq[String] = ns.map(n => f"q$n%02d")

  /** Query number prefix -> family; every catalog query maps to exactly one. */
  val FamilyOf: Map[String, String] = Seq(
    "spatial" -> qs(1, 2, 3, 4, 5, 17, 18, 21, 22, 24, 25, 26, 27, 41, 51, 58, 63, 66, 69, 70, 71, 72,
      104, 105, 108, 125),
    "crs" -> qs(23, 42, 44, 49, 52, 53, 54, 56, 57, 64, 65, 68, 74, 78, 79, 82, 83, 84, 85, 112, 113),
    "raster" -> qs(6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 19, 20, 28, 29, 40, 43, 46, 48, 75, 80, 81,
      90, 91, 92, 94, 95, 97, 100, 103, 107, 109, 115, 116, 118, 122, 127),
    "iterative" -> qs(59, 96, 101, 110, 114, 121, 128),
    "text" -> qs(30, 31, 32, 33, 34, 35, 36, 37, 38, 39, 45, 50, 62, 73, 87, 88, 93, 98, 99, 102, 106,
      117, 119, 120, 123, 124, 126),
    "stream" -> qs(47, 55, 60, 61, 67, 76, 77, 86, 89, 111)
  ).flatMap { case (f, ps) => ps.map(_ -> f) }.toMap

  def family(q: String): String = FamilyOf(q.takeWhile(_ != '_'))

  def fixture(spark: SparkSession): String =
    Gen.cached(Main.Data, "qfixture", FixtureSeed, s"$FixtureDocs/$FixtureEvents", keep = 1) { d =>
      val s = if (spark != null) spark else Main.session()
      Gen.queryFixture(s, d, FixtureSeed, FixtureDocs, FixtureEvents)
    }

  def goldenFile: String = new File(sys.props.getOrElse("graftbench.home", "perfbench"), "goldens.tsv").getPath

  def readGoldens(): Map[String, String] =
    Files.readAllLines(Paths.get(goldenFile)).asScala.filterNot(_.startsWith("#")).map(_.split("\t"))
      .collect { case Array(q, fp) => q -> fp }.toMap

  /**
   * `--write-goldens`: runs every catalog query once on the fixture and
   * rewrites `goldens.tsv` with those that run. Cross-check new goldens
   * against the DuckDB twins before committing them (see NOTES.md).
   */
  def writeGoldens(): Unit = {
    val spark = Main.session()
    val dir = fixture(spark)
    val lines = graft.SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val r = try {
        val (f, wall) = Main.nanos(Main.fold(graft.SparkEntry.queries(q)(spark, dir)))
        System.err.println(f"GOLDEN $q%-28s ${wall}%.3f s ${f.fp}")
        Some(s"$q\t${f.fp}")
      } catch { case e: Exception => System.err.println(s"GOLDEN $q FAILED $e"); None }
      graft.plans.Caches.flush()
      r
    }
    Files.write(Paths.get(goldenFile), (s"# query\trows:xxhash64_sum:murmur3_sum  (fixture ${Gen.Version}, seed $FixtureSeed)" +: lines).asJava)
    Main.close(spark)
  }
}
