package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, CodeGenerator}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The calls the workloads make around each layer. The untraced hooks
  * are the bodies alone, so end-to-end runs carry no tracing cost. */
class Hooks {
  def traced: Boolean = false
  def span[T](name: String)(body: => T): T = body
  def opStart(name: String): Unit = ()
  def opEnd(name: String, ok: Boolean): Unit = ()
  def checked(ok: Boolean): Unit = ()
  def planned(qe: QueryExecution): Unit = ()
  def pairs(mapleStatus: String, inputLines: Long): Unit = ()
}

/** Untraced hooks that sample block-manager storage at each op end,
  * after the op's timer has stopped: the base of storage_peak_mb. */
final class PeakHooks(spark: SparkSession) extends Hooks {
  var peakMb = 0.0
  override def opEnd(name: String, ok: Boolean): Unit =
    peakMb = math.max(peakMb, Report.storageMb(spark))
}

/** A span: a named interval, its parent span (-1 for an op root) and
  * the op it belongs to. Times are ms since the tracer started. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Double, end: Double)

/** Per-op counters, filled from the benchmark's own spans, the Spark
  * listener (jobs, stages, tasks), the planning tracker, the codegen
  * and memo counters, and a WARN+ log appender. */
final class OpStats(val id: Long, val name: String) {
  val m: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  var ok = true
  var wallMs = 0.0
  var rootSpan = -1L
  val stageTaskMs: mutable.HashMap[Int, mutable.ArrayBuffer[Long]] = mutable.HashMap.empty
}

/** Tracing hooks: spans stay in memory and are written out at the end
  * of the run. Listener events find their op through the job group. */
final class Tracer(spark: SparkSession) extends Hooks {
  override def traced: Boolean = true

  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  private def epochMs(t: Long): Double = (t - epoch0).toDouble

  private val ids = new AtomicLong(0)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val ops: mutable.ArrayBuffer[OpStats] = mutable.ArrayBuffer.empty
  private val byId = new ConcurrentHashMap[Long, OpStats]()
  private var cur: OpStats = _
  private var stack: List[Long] = Nil
  private var opT0 = 0.0
  private var base: Map[String, Double] = Map.empty

  // ---- driver log lines: WARN and above, counted per op, except the
  // ones the benchmark's own `tables` probe causes ----
  private val warnLines = new AtomicLong(0)
  @volatile private var probing = false
  private val appender = new AbstractAppender("perfbench-warn-counter", null, null,
      true, Array.empty) {
    override def append(e: LogEvent): Unit =
      if (!probing && e.getLevel.isMoreSpecificThan(Level.WARN)) warnLines.incrementAndGet()
  }
  appender.start()
  private val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  logCtx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
  logCtx.updateLoggers()

  // ---- scheduler events ----
  private val jobOp = new ConcurrentHashMap[Int, OpStats]()
  private val jobStart = new ConcurrentHashMap[Int, Double]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  @volatile private var sentinelSeen = false
  private val sentinelJobs = ConcurrentHashMap.newKeySet[Int]()
  private val Sentinel = "perfbench-sentinel"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == Sentinel) { sentinelJobs.add(e.jobId); return }
      Option(group).filter(_.startsWith("perfbench-op-"))
        .map(g => byId.get(g.stripPrefix("perfbench-op-").toLong)).filter(_ != null)
        .foreach { st =>
          jobOp.put(e.jobId, st)
          jobStart.put(e.jobId, epochMs(e.time))
          jobSpan.put(e.jobId, ids.incrementAndGet())
          e.stageIds.foreach(s => stageJob.put(s, e.jobId))
          st.add("exec.jobs", 1)
          val phase = e.properties.getProperty("perfbench.phase", "")
          if (phase == "build") st.add("build.jobs", 1)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobOp.get(e.jobId)).foreach { st =>
        val sp = Span(jobSpan.get(e.jobId), "job", st.rootSpan, st.id,
          jobStart.get(e.jobId), epochMs(e.time))
        spans.synchronized(spans += sp)
      }
      if (sentinelJobs.contains(e.jobId)) sentinelSeen = true
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageJob.get(si.stageId)).flatMap(j => Option(jobOp.get(j))).foreach { st =>
        st.add("exec.stages", 1)
        val sp = Span(ids.incrementAndGet(), "stage", jobSpan.get(stageJob.get(si.stageId)),
          st.id, epochMs(si.submissionTime.getOrElse(0L)),
          epochMs(si.completionTime.getOrElse(0L)))
        spans.synchronized(spans += sp)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobOp.get(j))).foreach { st =>
        st.synchronized {
          st.add("exec.tasks", 1)
          if (e.reason != org.apache.spark.Success) st.add("exec.failed_tasks", 1)
          Option(stageSubmit.get(e.stageId)).foreach(s =>
            st.add("exec.task_wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
          st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
          Option(e.taskMetrics).foreach { tm =>
            st.add("exec.run_ms", tm.executorRunTime)
            st.add("exec.cpu_ms", tm.executorCpuTime / 1e6)
            st.add("exec.gc_ms", tm.jvmGCTime)
            st.add("io.scan_bytes", tm.inputMetrics.bytesRead)
            st.add("io.scan_rows", tm.inputMetrics.recordsRead)
            st.add("io.write_bytes", tm.outputMetrics.bytesWritten)
            st.add("shuffle.write_bytes", tm.shuffleWriteMetrics.bytesWritten)
            st.add("shuffle.read_bytes", tm.shuffleReadMetrics.totalBytesRead)
            st.add("shuffle.records", tm.shuffleReadMetrics.recordsRead)
            st.add("shuffle.fetch_wait_ms", tm.shuffleReadMetrics.fetchWaitTime)
            st.add("spill.bytes", tm.memoryBytesSpilled + tm.diskBytesSpilled)
          }
        }
      }
    }
  }
  sc.addSparkListener(listener)

  /** Wait until the listener has seen every event posted so far: a
    * sentinel job's end is delivered after all earlier events. */
  def drain(): Unit = {
    sentinelSeen = false
    sc.setJobGroup(Sentinel, Sentinel)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(1)
    require(sentinelSeen, "Spark listener did not catch up within 30 s")
  }

  // ---- JVM-wide counters, read as deltas over an op ----
  private def counters: Map[String, Double] = Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "driver.warn_lines" -> warnLines.get.toDouble,
    "memo.builds" -> (graft.sim.Similarity.cacheBuilds.get +
      graft.dedup.Dedup.cacheBuilds.get + graft.pipeline.CorpusOps.cacheBuilds.get).toDouble)

  /** Compiles since JVM start: set-up's warm-up does nearly all of
    * them, so per-op deltas in the timed passes are mostly zero. */
  def codegenSinceStart: Map[String, Double] = counters.filter(_._1.startsWith("codegen."))

  override def opStart(name: String): Unit = {
    val st = new OpStats(ids.incrementAndGet(), name)
    byId.put(st.id, st)
    ops += st
    cur = st
    sc.setJobGroup(s"perfbench-op-${st.id}", name)
    base = counters
    opT0 = nowMs
  }

  override def checked(ok: Boolean): Unit = cur.ok = ok

  override def opEnd(name: String, ok: Boolean): Unit = {
    val st = cur
    st.ok = ok
    st.wallMs = nowMs - opT0
    counters.foreach { case (k, v) => st.add(k, v - base(k)) }
    st.m("storage.mb") = Report.storageMb(spark)
    sc.clearJobGroup()
  }

  override def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(-1L)
    if (name == "op") cur.rootSpan = id
    probing = name == "tables"
    val prevPhase = sc.getLocalProperty("perfbench.phase")
    stack = id :: stack
    sc.setLocalProperty("perfbench.phase", name)
    val t0 = nowMs
    try body
    finally {
      val sp = Span(id, name, parent, cur.id, t0, nowMs)
      spans.synchronized(spans += sp)
      stack = stack.tail
      probing = false
      sc.setLocalProperty("perfbench.phase", prevPhase)
    }
  }

  override def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    cur.add("plan.analysis_ms", ms("analysis"))
    cur.add("plan.optimizer_ms", ms("optimization"))
    cur.add("plan.physical_ms", ms("planning"))
    var fallback = 0
    Walk.foreach(qe.executedPlan) { node =>
      node.expressions.foreach(_.foreach {
        case _: CodegenFallback | _: LambdaFunction => fallback += 1
        case _ =>
      })
    }
    cur.add("plan.fallback_nodes", fallback)
  }

  private val PairsRe = """\((\d+) pairs\)""".r.unanchored
  override def pairs(mapleStatus: String, inputLines: Long): Unit = mapleStatus match {
    case PairsRe(n) =>
      cur.add("mr.pairs", n.toDouble)
      cur.add("mr.lines", inputLines.toDouble)
    case _ =>
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    logCtx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    logCtx.updateLoggers()
    appender.stop()
  }

  /** Span self time: duration minus the part its children cover. */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, hi), (a, b)) =>
          if (b <= hi) (acc, hi) else (acc + b - math.max(a, hi), b)
        }._1
      s.name -> (s.end - s.start - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Walks an executed plan through adaptive query stages. */
private object Walk extends AdaptiveSparkPlanHelper
