package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Run clock: milliseconds since the harness started, from one
  * monotonic source, plus the epoch offset to place Spark's event
  * timestamps (epoch ms) on the same axis.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  def ms(ns: Long): Double = (ns - baseNs) / 1e6
  def now: Double = ms(System.nanoTime())
  def fromEpoch(epochMs: Long): Double = (epochMs - baseEpochMs).toDouble
}

final case class JobRec(
    id: Int, startMs: Double, var endMs: Double, module: String, broadcast: Boolean,
    checkpoint: Boolean)

final case class TaskRec(
    stage: Int, runMs: Long, cpuNs: Long, shuffleWrite: Long, spill: Long, peakMem: Long)

final case class PlanRec(atMs: Double, planMs: Double, scanFiles: Long, scanBytes: Long)

/** Spark work seen from outside the engine: a listener for jobs and
  * tasks, and a query-execution listener for planning time and file
  * scans. Every job is tied to the module whose code launched it: the
  * first repository frame of its stage call site, or, for jobs launched
  * from helper threads (broadcast builds), of its SQL execution.
  */
final class Meter extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  /** Time spent inside this meter's own callbacks (tracing overhead). */
  val selfNs = new AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t)
  }

  /** `http` for graft.http.Gateway, `store` for graft.store..., the
    * object name for top-level graft objects; None when no repository
    * frame is present.
    */
  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench"))
      .map { l =>
        val parts = l.takeWhile(_ != '(').split('.')
        if (parts.length > 3) parts(1) else "engine"
      }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => timed {
      execSite.put(e.executionId, e.details)
      execStart.put(e.executionId, e.time)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    val module = moduleOf(site)
      .orElse(prop("spark.sql.execution.id")
        .flatMap(id => Option(execSite.get(id.toLong))).flatMap(moduleOf))
      .getOrElse("other")
    val rec = JobRec(e.jobId, Clock.fromEpoch(e.time), Double.NaN, module,
      site.contains("BroadcastExchange") ||
        props.exists(_.values.asScala.exists(v => String.valueOf(v).contains("broadcast"))),
      site.contains("PipelineCache"))
    jobs.add(rec)
    open.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(open.remove(e.jobId)).foreach(_.endMs = Clock.fromEpoch(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId,
      m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val scans = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    // placed at the execution's start: callbacks arrive after the fact
    val at = Option(execStart.get(qe.id)).map(t => Clock.fromEpoch(t)).getOrElse(Clock.now)
    plans.add(PlanRec(at, planMs, metric("numFiles"), metric("filesSize")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Aggregate Spark cost of the jobs that started in [fromMs, toMs). */
  def window(fromMs: Double, toMs: Double): SparkCost = {
    val js = jobs.asScala.filter(j => j.startMs >= fromMs && j.startMs < toMs).toSeq
    val ids = js.map(_.id).toSet
    val ts = tasks.asScala.filter { t =>
      Option(stageJob.get(t.stage)).exists(j => ids.contains(j.id))
    }.toSeq
    val ps = plans.asScala.filter(p => p.atMs >= fromMs && p.atMs < toMs).toSeq
    SparkCost(js, ts, ps)
  }
}

final case class SparkCost(jobs: Seq[JobRec], tasks: Seq[TaskRec], plans: Seq[PlanRec]) {
  def taskRunMs: Double = tasks.map(_.runMs).sum.toDouble
  def taskCpuMs: Double = tasks.map(_.cpuNs).sum / 1e6
  def byModule: Map[String, Int] = jobs.groupBy(_.module).view.mapValues(_.size).toMap
}

final case class Span(id: Long, parent: Long, req: Long, layer: String, name: String,
    startMs: Double, endMs: Double)

/** In-memory spans: name, layer, start, end, parent and request id.
  * Disabled spans cost one branch.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  val selfNs = new AtomicLong()

  def newRequest(): Long = ids.incrementAndGet()

  /** A root span of request `req` around `body`. */
  def span[T](layer: String, name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        spans.add(Span(id, 0, req, layer, name, Clock.ms(s), Clock.ms(e)))
        selfNs.addAndGet(System.nanoTime() - e)
      }
    }

  /** Spark jobs that ran inside a span become its children. */
  def addJobs(parent: Span, jobs: Seq[JobRec]): Unit = jobs.foreach { j =>
    if (!j.endMs.isNaN)
      spans.add(Span(ids.incrementAndGet(), parent.id, parent.req, s"spark.${j.module}",
        s"job ${j.id}", j.startMs, j.endMs))
  }
}

/** Process and host evidence read from /proc. */
object Host {
  def loadavg: Seq[Double] =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq).getOrElse(Nil)
  def peakRssMb: Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    finally src.close()
  }.getOrElse(0.0)
}

/** On-disk state of a store root. */
final case class StoreState(files: Map[String, Long]) {
  def bytes: Long = files.values.sum
  /** Parquet files of the value tables (the catalog not included). */
  def dataFiles: Int = files.keys.count(f => f.endsWith(".parquet") && f.contains("/values_"))
}

object StoreState {
  def of(root: String): StoreState = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) StoreState(Map.empty)
    else {
      val s = java.nio.file.Files.walk(p)
      try StoreState(s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap)
      finally s.close()
    }
  }
}

/** The gateway's own counters from /api/v1/admin/metrics:
  * (method, route, status) -> (requests, summed handler µs).
  */
object GatewayMetrics {
  private val Line = """graft_http_(requests_total|request_duration_us_total)\{method="([^"]*)",path="([^"]*)",status="(\d+)"\} (\d+)""".r

  def parse(text: String): Map[(String, String, Int), (Long, Long)] = {
    val m = scala.collection.mutable.Map.empty[(String, String, Int), (Long, Long)]
      .withDefaultValue((0L, 0L))
    text.linesIterator.foreach {
      case Line(kind, method, path, status, v) =>
        val k = (method, path, status.toInt)
        val (c, us) = m(k)
        m(k) = if (kind == "requests_total") (c + v.toLong, us) else (c, us + v.toLong)
      case _ =>
    }
    m.toMap
  }

  def diff(a: Map[(String, String, Int), (Long, Long)], b: Map[(String, String, Int), (Long, Long)])
      : Map[(String, String, Int), (Long, Long)] =
    b.map { case (k, (c, us)) =>
      val (c0, us0) = a.getOrElse(k, (0L, 0L))
      k -> (c - c0, us - us0)
    }.filter(_._2._1 > 0)
}
