package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `op` is the timed operation's id. */
final case class Span(name: String, start: Long, end: Long, op: Int) {
  def dur: Double = (end - start) / 1000.0
}

/**
 * In-memory tracer fed only by public hooks: a SparkListener (jobs, stages,
 * tasks and their metrics), a QueryExecutionListener (each execution's
 * `QueryExecution.tracker` phases), the code generator's compile-time log
 * line, and the JVM's GC beans. Nothing is attributed while it runs:
 * every record carries its wall-clock time, and [[ops]] assigns records to
 * the timed operations whose interval contains them once the listener bus
 * has drained. Spans live in memory until [[dump]].
 */
final class Tracer(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]()       // id, start, end
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[Long]()                   // completion time
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[Span]()
  private val compiles = new ConcurrentLinkedQueue[(Long, Double)]()      // time, compile ms
  private val opSpans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val gcAt = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]

  private final case class TaskRec(finish: Long, busyMs: Long, shRead: Long, shWrite: Long,
                                   spill: Long, peakMem: Long)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((e.jobId, s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Records the analysis/optimization/planning phases of one execution. */
  def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(Span(s"spark.$name", p.startTimeMs, p.endTimeMs, -1))
    }

  private val CompileLine = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val appender = new AbstractAppender("graftbench-codegen", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case CompileLine(ms) => compiles.add((e.getTimeMillis, ms.toDouble))
      case _ =>
    }
  }
  private var running = false

  def start(): Unit = if (!running) {
    running = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  def stop(): Unit = if (running) {
    running = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(codegenLogger)
    ctx.updateLoggers()
    appender.stop()
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Times `f` as operation `op`, named `name`. */
  def span[A](name: String, op: Int)(f: => A): A = {
    val g0 = gcSeconds
    val t0 = System.currentTimeMillis()
    try f finally {
      val t1 = System.currentTimeMillis()
      opSpans.synchronized { opSpans += Span(name, t0, t1, op); gcAt += ((op, gcSeconds - g0)) }
    }
  }

  /** Waits until every started job has ended and the task stream is quiet. */
  def drain(): Unit = {
    var quiet = 0
    var last = -1
    while (quiet < 3) {
      Thread.sleep(50)
      val n = tasks.size + jobs.size + phases.size
      if (jobStart.isEmpty && n == last) quiet += 1 else quiet = 0
      last = n
    }
  }

  /** Per-operation totals over the operation spans whose name passes `name`. */
  def ops(name: String => Boolean): Seq[OpStats] = {
    drain()
    val js = jobs.asScala.toSeq; val ts = tasks.asScala.toSeq
    val ph = phases.asScala.toSeq; val cs = compiles.asScala.toSeq; val st = stages.asScala.toSeq
    opSpans.filter(s => name(s.name)).toSeq.map { s =>
      def in(t: Long) = t >= s.start && t <= s.end
      val myJobs = js.filter(j => in(j._2))
      val myTasks = ts.filter(t => in(t.finish))
      val myPh = ph.filter(p => in(p.start))
      val myCg = cs.filter(c => in(c._1))
      val children = myJobs.map(j => (j._2, j._3)) ++ myPh.map(p => (p.start, p.end))
      val jobCover = covered(myJobs.map(j => (j._2, j._3)), s)
      OpStats(s, myJobs.size, st.count(in), myTasks.size,
        myPh.filter(_.name == "spark.analysis").map(_.dur).sum,
        myPh.filter(_.name == "spark.optimization").map(_.dur).sum,
        myPh.filter(_.name == "spark.planning").map(_.dur).sum,
        myCg.map(_._2).sum / 1000.0, myCg.size,
        myTasks.map(_.busyMs).sum / 1000.0,
        myTasks.map(_.shRead).sum, myTasks.map(_.shWrite).sum, myTasks.map(_.spill).sum,
        (0L +: myTasks.map(_.peakMem)).max,
        gcAt.filter(_._1 == s.op).map(_._2).sum,
        s.dur - jobCover, s.dur - covered(children, s))
    }
  }

  private def covered(iv: Seq[(Long, Long)], s: Span): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /**
   * Writes every span as a JSON line: operation spans, then jobs, phases and
   * compiles, each with the operation span that contains its start as parent.
   */
  def dump(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    def line(kind: String, name: String, s: Long, e: Long): Unit = {
      val parent = opSpans.find(o => s >= o.start && s <= o.end)
      out.println(s"""{"kind":"$kind","name":"$name","start_ms":$s,"end_ms":$e,""" +
        s""""parent":"${parent.map(_.name).getOrElse("")}","op":${parent.map(_.op).getOrElse(-1)}}""")
    }
    try {
      opSpans.foreach(s => out.println(
        s"""{"kind":"span","name":"${s.name}","start_ms":${s.start},"end_ms":${s.end},"parent":"","op":${s.op}}"""))
      jobs.asScala.foreach(j => line("job", s"job-${j._1}", j._2, j._3))
      phases.asScala.foreach(p => line("phase", p.name, p.start, p.end))
      compiles.asScala.foreach(c => line("codegen", "compile", c._1 - c._2.toLong, c._1))
    } finally out.close()
  }
}

object Tracer {
  /** Runs `f` as a span of `t` when tracing, plainly otherwise. */
  def traced[A](t: Option[Tracer], name: String, i: Int)(f: => A): A =
    t.fold(f)(_.span(name, i)(f))
}

final case class OpStats(span: Span, jobs: Int, stages: Int, tasks: Int,
                         analysisS: Double, optimizationS: Double, planningS: Double,
                         codegenS: Double, codegenClasses: Int, taskBusyS: Double,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long,
                         peakExecMem: Long, gcS: Double, driverGapS: Double, uncoveredS: Double) {
  def wall: Double = span.dur
}
