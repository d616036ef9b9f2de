package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Benchmark entry point, one JVM per run:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *
 * Prints `DETAIL {...}` (workload-specific figures) and, last, one JSON
 * result line. Other modes: `--selftest` (the benchmark's own checks),
 * `--write-goldens` (query_loop golden maintenance) and `--child-pipeline`
 * (a CPU-confined pipeline run for the scaling figure).
 */
object Main {
  val Cores = 4
  val Work = ".bench_work"
  val Data = ".bench_data"

  def session(cores: Int = Cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .config("spark.local.dir", new File(Work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(Work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def close(s: SparkSession): Unit = {
    graft.plans.Caches.flush()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Row count and two order-insensitive hash sums over every column (plus an optional column sum). */
  final case class Fold(rows: Long, h1: Long, h2: Long, sum: Long) {
    def fp: String = s"$rows:$h1:$h2"
  }

  /**
   * The timed action: hashes EVERY output column (xxhash64 and murmur3)
   * and folds the hashes per partition, so no column or kernel of the
   * measured plan can be pruned away (a `.count()` lets the optimizer drop
   * whatever the count does not need). One job over the final stage, like
   * a `noop` write.
   */
  def fold(df: DataFrame, sumCol: Option[String] = None): Fold = {
    val hashed = df.select(hashes(df) :+
      sumCol.map(c => col(s"`$c`").cast("long")).getOrElse(lit(0L)).as("s"): _*)
    val sc = df.sparkSession.sparkContext
    val n = sc.longAccumulator; val a = sc.longAccumulator
    val b = sc.longAccumulator; val s = sc.longAccumulator
    hashed.foreachPartition { (it: Iterator[Row]) =>
      var cn = 0L; var ca = 0L; var cb = 0L; var cs = 0L
      it.foreach { r => cn += 1; ca += r.getLong(0); cb += r.getLong(1); if (!r.isNullAt(2)) cs += r.getLong(2) }
      n.add(cn); a.add(ca); b.add(cb); s.add(cs)
    }
    Fold(n.value, a.value, b.value, s.value)
  }

  private def hashes(df: DataFrame) = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    Seq(xxhash64(cols: _*).as("h1"), hash(cols: _*).cast("long").as("h2"))
  }

  /** The optimized plan [[fold]] executes for `df` (for the plan-pinning self-test). */
  def timedPlan(df: DataFrame): String = df.select(hashes(df): _*).queryExecution.optimizedPlan.toString

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Interquartile mean: the mean of the middle half (all values when fewer than four). */
  def iqm(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "iqm of nothing")
    val s = xs.sorted; val k = s.size / 4
    val mid = s.slice(k, s.size - k)
    mid.sum / mid.size
  }

  def nanos[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10, trace: Boolean = false,
                        inject: String = "", mode: String = "run", rest: List[String] = Nil)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--inject" :: v :: t => parse(t, acc.copy(inject = v))
    case "--selftest" :: t => parse(t, acc.copy(mode = "selftest"))
    case "--write-goldens" :: t => parse(t, acc.copy(mode = "write-goldens"))
    case "--child-pipeline" :: t => acc.copy(mode = "child-pipeline", rest = t)
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument '$x'")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    new File(Work).mkdirs(); new File(Data).mkdirs()
    a.mode match {
      case "child-pipeline" => Pipeline.child(a.rest)
      case "selftest" => sys.exit(SelfTest.run())
      case "write-goldens" => QueryLoop.writeGoldens()
      case _ =>
        val w: Workload = a.workload match {
          case "pipeline" => new Pipeline(a.seed, a.inject)
          case "query_loop" => new QueryLoop(a.inject)
          case other => throw new IllegalArgumentException(s"unknown workload '$other'")
        }
        val r = Runner.run(w, a.seconds, a.trace)
        println("DETAIL " + Json.obj(r.detail))
        println(Json.result(r))
        if (!r.correct) System.err.println("graftbench: output check FAILED: " + r.notes.mkString("; "))
    }
  }
}

/** One workload: inputs from the seed, a repeated timed unit of work, checks. */
trait Workload {
  def name: String
  /** Generates (or finds cached) inputs. Not part of set-up time; reported as `sources.gen_s`. */
  def prepare(spark: SparkSession): Unit
  /** Loads inputs into a fresh session and runs the warm-up: one set-up trial. */
  def setup(spark: SparkSession): Unit
  /** Optional untimed warm passes after the set-up trials. */
  def warm(spark: SparkSession): Unit = ()
  /** Runs timed unit `i`; returns op results (name, wall seconds, ok). */
  def unit(spark: SparkSession, i: Int, t: Option[Tracer]): Seq[OpResult]
  /**
   * Whether a traced run alternates untraced and traced units through its
   * window, to measure the tracing overhead; otherwise every unit is traced.
   */
  def splitsWindow: Boolean = true
  /** True once the measure window is over: by default when `seconds` have elapsed after unit `i`. */
  def done(i: Int, elapsed: Double, seconds: Double): Boolean = i > 0 && elapsed >= seconds
  /** End-of-run output checks: (checks attempted, checks failed, notes). */
  def check(spark: SparkSession): (Int, Int, Seq[String])
  /** Seconds of one unit of work, from the op results (for `op_iqm_s`). */
  def unitSeconds(ops: Seq[OpResult]): Double = Main.iqm(ops.map(_.wall))
  /** Per-layer metrics from the traced window. */
  def layers(spark: SparkSession, t: Tracer, ops: Seq[OpResult]): Map[String, Double]
  /** Checks made while measuring the layers, after [[layers]]: (checks attempted, failure notes). */
  def layerChecks: (Int, Seq[String]) = (0, Nil)
  /** Workload-specific figures for the DETAIL line. */
  def detail(ops: Seq[OpResult]): Map[String, Any]
}

final case class OpResult(name: String, wall: Double, ok: Boolean, note: String = "")

final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Seq[(String, Double, String)], detail: Map[String, Any], notes: Seq[String])
