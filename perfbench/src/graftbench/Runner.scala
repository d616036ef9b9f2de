package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * Drives one run: prepare inputs, time [[SetupTrials]] set-ups (fresh
 * session + load + warm-up each; `setup_s` is their median), then repeat
 * the workload's unit of work until the measure window is used up, then
 * run the output checks and, when traced, the per-layer probes. With
 * tracing on, units alternate untraced and traced through the window, so
 * the traced run itself reports the tracing overhead from two sets that
 * saw the same JIT warmth and host.
 */
object Runner {
  val SetupTrials = 3

  /** End-to-end metrics, printed with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_iqm_s" -> "s", "ops_per_s" -> "1/s")

  def run(w: Workload, seconds: Int, trace: Boolean): Result = {
    val s0 = Main.session()
    val (_, genS) = Main.nanos(w.prepare(s0))
    Main.close(s0)
    var spark: SparkSession = null
    val setups = (1 to SetupTrials).map { _ =>
      if (spark != null) Main.close(spark)
      Main.nanos { spark = Main.session(); w.setup(spark) }._2
    }
    val tracer = new Tracer(spark)
    w.warm(spark)
    if (trace) Heap.reset()
    val untraced = ArrayBuffer.empty[OpResult]
    val traced = ArrayBuffer.empty[OpResult]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    val alternate = trace && w.splitsWindow
    if (trace && !alternate) tracer.start()
    while (i == 0 || !w.done(i, elapsed, seconds) || (alternate && traced.isEmpty)) {
      val on = trace && (!alternate || i % 2 == 1)
      if (alternate && on) tracer.start()
      (if (on) traced else untraced) ++= w.unit(spark, i, if (on) Some(tracer) else None)
      if (alternate && on) { tracer.drain(); tracer.stop() }
      i += 1
    }
    if (alternate) tracer.start()
    val ops = (untraced ++ traced).toSeq
    val (checksRun0, checksFailed0, notes0) = w.check(spark)
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val l = w.layers(spark, tracer, traced.toSeq) ++ Layers.common(spark, tracer, Main.Cores) +
          ("sources.gen_s" -> genS) + ("jvm.peak_heap_mb" -> Heap.peakMb())
        val overhead = l.getOrElse("trace.overhead_frac",
          if (untraced.isEmpty) 0.0 else w.unitSeconds(traced.toSeq) / w.unitSeconds(untraced.toSeq) - 1.0)
        tracer.stop()
        tracer.dump(new java.io.File(Main.Work, s"trace-${w.name}.jsonl").getPath)
        l + ("trace.overhead_frac" -> overhead)
      }
    val (layerChecks, layerNotes) = if (trace) w.layerChecks else (0, Nil)
    val checksRun = checksRun0 + layerChecks
    val checksFailed = checksFailed0 + layerNotes.size
    val notes = notes0 ++ layerNotes
    Main.close(spark)
    val opsFailed = ops.count(!_.ok)
    val attempted = ops.size + checksRun
    val failed = opsFailed + checksFailed
    val allNotes = ops.filter(!_.ok).map(o => s"${o.name}: ${o.note}") ++ notes
    val base = if (untraced.nonEmpty) untraced.toSeq else ops
    val e2e = Seq(
      ("setup_s", Main.median(setups), "s"),
      ("op_iqm_s", w.unitSeconds(base), "s"),
      ("ops_per_s", base.size / base.map(_.wall).sum, "1/s"))
    val metrics =
      if (trace) Layers.names.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      else e2e
    Result(failed == 0, attempted, failed, metrics,
      w.detail(base) ++ Map("workload" -> w.name, "setup_trials_s" -> setups, "gen_s" -> genS,
        "ops" -> ops.size, "fail_frac" -> failed.toDouble / attempted,
        "op_walls_s" -> ops.map(o => s"${o.name}=${"%.4f".format(o.wall)}")), allNotes)
  }
}

/** Peak heap over the measure window: the largest heap occupancy seen just before any GC, or now. */
object Heap {
  @volatile private var peak = 0L
  private var installed = false

  private def used: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  def reset(): Unit = synchronized {
    peak = used
    if (!installed) {
      installed = true
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter =>
          e.addNotificationListener(new NotificationListener {
            override def handleNotification(n: Notification, hb: Any): Unit =
              n.getUserData match {
                case cd: javax.management.openmbean.CompositeData
                    if n.getType == "com.sun.management.gc.notification" =>
                  val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
                  val before = info.getGcInfo.getMemoryUsageBeforeGc.asScala.collect {
                    case (pool, u) if isHeap(pool) => u.getUsed
                  }.sum
                  if (before > peak) peak = before
                case _ =>
              }
          }, null, null)
        case _ =>
      }
    }
  }

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private def isHeap(pool: String): Boolean = heapPools.contains(pool)

  def peakMb(): Double = math.max(peak, used) / (1024.0 * 1024.0)
}

/** Per-layer metric names (printed with `--trace 1`), and the Spark-wide ones every workload reports. */
object Layers {
  val families: Seq[String] = Seq("spatial", "crs", "raster", "iterative", "text", "stream")
  /** Iterative and shuffle-heavy operators, each measured through one catalog query of `query_loop`. */
  val opQueries: Map[String, String] = Map("clump" -> "q96_clump", "jaccard" -> "q33_jaccard_pairs",
    "corr" -> "q89_correlated_pairs", "flow" -> "q128_flow_accum")

  val names: Seq[(String, String)] = Seq(
    "sources.gen_s" -> "s", "sources.scan_s" -> "s", "sources.scan_bytes" -> "bytes",
    "functions.point_s" -> "s", "functions.cell_s" -> "s",
    "operators.pip_s" -> "s", "operators.pip_hit_frac" -> "ratio",
    "pipeline.rollup_s" -> "s", "pipeline.scaling_eff" -> "ratio",
    "plans.ckpt_write_s" -> "s", "plans.ckpt_lineage_s" -> "s", "plans.ckpt_files" -> "count",
    "plans.ckpt_bytes_per_row" -> "bytes", "plans.ckpt_resume_s" -> "s",
    "spark.analysis_s" -> "s", "spark.optimization_s" -> "s", "spark.planning_s" -> "s",
    "spark.codegen_compile_s" -> "s", "spark.codegen_classes" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.task_busy_s" -> "s", "spark.core_util" -> "ratio",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "spark.peak_exec_mem_mb" -> "MB", "jvm.peak_heap_mb" -> "MB") ++
    families.flatMap(f => Seq(s"queries.${f}_s" -> "s", s"queries.${f}_jobs" -> "count",
      s"queries.${f}_codegen_s" -> "s")) ++
    opQueries.keys.toSeq.sorted.flatMap(o => Seq(s"operators.${o}_s" -> "s", s"operators.${o}_jobs" -> "count",
      s"operators.${o}_shuffle_bytes" -> "bytes")) ++
    Seq("trace.overhead_frac" -> "ratio", "trace.uncovered_frac" -> "ratio")

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Spark-wide layer metrics, per timed operation, over the traced window's top-level spans. */
  def common(spark: SparkSession, t: Tracer, cores: Int): Map[String, Double] = {
    val st = t.ops(_.startsWith("op:"))
    val wall = st.map(_.wall).sum
    def per(f: OpStats => Double) = mean(st.map(f))
    Map(
      "spark.analysis_s" -> per(_.analysisS), "spark.optimization_s" -> per(_.optimizationS),
      "spark.planning_s" -> per(_.planningS), "spark.codegen_compile_s" -> per(_.codegenS),
      "spark.codegen_classes" -> per(_.codegenClasses), "spark.jobs" -> per(_.jobs),
      "spark.stages" -> per(_.stages), "spark.tasks" -> per(_.tasks),
      "spark.driver_gap_s" -> per(_.driverGapS), "spark.task_busy_s" -> per(_.taskBusyS),
      "spark.core_util" -> (if (wall > 0) st.map(_.taskBusyS).sum / (wall * cores) else 0.0),
      "spark.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> per(_.spill.toDouble), "spark.gc_s" -> per(_.gcS),
      "spark.peak_exec_mem_mb" -> (if (st.isEmpty) 0.0 else st.map(_.peakExecMem).max / (1024.0 * 1024.0)),
      "trace.uncovered_frac" -> (if (wall > 0) st.map(_.uncoveredS).sum / wall else 0.0))
  }
}

/** Minimal JSON writer for the result and DETAIL lines. */
object Json {
  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }

  def obj(m: Iterable[(String, Any)]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")

  def result(r: Result): String = {
    val ms = r.metrics.map { case (n, v, u) => value(n) + ":{\"value\":" + value(v) + ",\"unit\":" + value(u) + "}" }
    s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},"metrics":${ms.mkString("{", ",", "}")}}"""
  }
}

