package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** One recorded span. Times are epoch milliseconds with sub-ms digits.
  * A probe span holds a measurement the benchmark makes for a per-layer
  * count; it is excluded from layer times and Spark totals.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val start: Double, val probe: Boolean) {
  var end: Double = start
  def ms: Double = end - start
}

/** Spans around the benchmark's calls into the program. Disabled (the
  * untraced run), every method runs its body and records nothing.
  *
  * Enabled (the traced run), each span sets a Spark job group naming it,
  * so the listener can attribute jobs, stages and tasks to it, and each
  * lazy layer output passes through [[boundary]]: it is persisted and
  * materialized inside the span of the call that produced it, so the
  * layer's cost lands in its own span instead of in whichever later
  * action first forces it. The persisted frames are released when the
  * operation ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  /** The innermost open span, read by the codegen log appender. */
  @volatile var current: Span = null
  private var op = -1
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  /** Per-operation values measured by probes: (op, metric) → value. */
  val notes = mutable.LinkedHashMap.empty[(Int, String), Double]

  def beginOp(i: Int): Unit = op = i

  def endOp(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
    op = -1
  }

  private def open[T](name: String, probe: Boolean)(body: => T): T = {
    val parent = current
    val s = new Span(spans.size, name, if (parent == null) -1 else parent.id,
      op, now, probe)
    spans += s
    current = s
    sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
    try body
    finally {
      s.end = now
      current = parent
      if (parent == null) sc.clearJobGroup()
      else sc.setJobGroup(Tracer.group(parent.id), parent.name, interruptOnCancel = false)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (enabled) open(name, probe = false)(body) else body

  /** A layer call with a lazy result: the span covers the call and, when
    * traced, the materialization of its output.
    */
  def layer(name: String)(body: => DataFrame): DataFrame =
    span(name)(boundary(body))

  def boundary(df: DataFrame): DataFrame =
    if (!enabled) df else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.format("noop").mode("overwrite").save()
      persisted += p
      p
    }

  /** Traced runs only: measure a per-layer value outside the layer spans. */
  def probe(metric: String)(value: => Double): Unit =
    if (enabled) open(metric, probe = true) {
      notes((op, metric)) = notes.getOrElse((op, metric), 0.0) + value
    }

  def note(metric: String, value: Double): Unit =
    if (enabled) notes((op, metric)) = notes.getOrElse((op, metric), 0.0) + value
}

object Tracer {
  val prefix = "perfbench-span-"
  def group(id: Int): String = prefix + id
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toInt)
}

/** Spark-side counts for the traced run: a SparkListener for jobs, stages
  * and tasks (attributed to spans through their job group), a
  * QueryExecutionListener for planning time, output schema and scan
  * metrics (attributed to the span open when planning ran), and a log
  * appender counting whole-stage and expression code compilations.
  */
final class SparkEvents(spark: SparkSession, tracer: Tracer) {

  final case class Job(span: Option[Int], stages: Seq[Int])
  final case class Stage(id: Int, submitted: Long)
  final case class Task(stage: Int, launch: Long, ms: Long, ok: Boolean, runMs: Long,
      cpuMs: Double, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      inRows: Long, inBytes: Long, outRows: Long, outBytes: Long)
  final case class Query(planPhases: Seq[(Double, Double)], columns: Seq[String],
      ms: Double, scanRows: Long, partitionsRead: Long)
  final case class Compile(span: Option[Int], ms: Double)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val queries = new ConcurrentLinkedQueue[Query]()
  val compiles = new ConcurrentLinkedQueue[Compile]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(Tracer.spanOf(
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull),
        e.stageIds))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(Stage(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(0L)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      tasks.add(if (m == null) Task(e.stageId, info.launchTime, info.duration,
          info.successful, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
        else Task(e.stageId, info.launchTime, info.duration, info.successful,
          m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten))
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values.map(p =>
        (p.startTimeMs.toDouble, p.endTimeMs.toDouble)).toSeq
      val scans = Plans.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }
      def metric(s: FileSourceScanExec, k: String): Long =
        s.metrics.get(k).map(_.value).getOrElse(0L)
      queries.add(Query(phases, qe.analyzed.output.map(_.name), durationNs / 1e6,
        scans.map(metric(_, "numOutputRows")).sum,
        scans.map(metric(_, "numPartitions")).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val compiled = "Code generated in ([0-9.]+) ms".r.unanchored

  private val appender = {
    import org.apache.logging.log4j.core.LogEvent
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case compiled(ms) =>
            compiles.add(Compile(Option(tracer.current).map(_.id), ms.toDouble))
          case _ => ()
        }
    }
  }

  def start(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{Logger => CoreLogger}
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    appender.start()
    val l = LogManager.getLogger(codegenLogger).asInstanceOf[CoreLogger]
    l.addAppender(appender)
    l.setLevel(Level.INFO)
    l.setAdditive(false)
  }

  /** Stop listening once every queued event has been delivered. */
  def stop(): Unit = {
    org.apache.spark.perfbenchshim.Shim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val l = org.apache.logging.log4j.LogManager.getLogger(codegenLogger)
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    l.removeAppender(appender)
    l.setLevel(org.apache.logging.log4j.Level.WARN)
    appender.stop()
  }
}

/** Per-operation and per-layer figures from the spans and Spark events of
  * one traced window.
  */
final class TraceReport(tracer: Tracer, ev: SparkEvents, val ops: Int) {
  private val spans = tracer.spans.toIndexedSeq
  private val byId = spans.map(s => s.id -> s).toMap

  /** Span duration minus the part of it covered by its children. */
  val selfMs: Map[Int, Double] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(_.ms).sum
      s.id -> math.max(0.0, s.ms - covered)
    }.toMap
  }

  private def isProbe(id: Int): Boolean = {
    var s = byId.get(id)
    while (s.exists(x => !x.probe && x.parent >= 0)) s = byId.get(s.get.parent)
    s.exists(_.probe)
  }

  /** Calls of a layer: the non-probe spans with this name. */
  def calls(name: String): Int = spans.count(s => s.name == name && !s.probe)

  /** Mean per call of the self time of spans with this name. */
  def layerMs(name: String): Double =
    spans.filter(s => s.name == name && !s.probe).map(s => selfMs(s.id)).sum /
      math.max(1, calls(name))

  /** Whether span `id` is, or runs inside, a span with this name. */
  private def under(id: Int, name: String): Boolean = {
    var s = byId.get(id)
    while (s.exists(x => x.name != name && x.parent >= 0)) s = byId.get(s.get.parent)
    s.exists(_.name == name)
  }

  def noteMean(metric: String): Double = {
    val vs = tracer.notes.collect { case ((_, m), v) if m == metric => v }
    if (vs.isEmpty) 0.0 else vs.sum / vs.size
  }

  def noteSum(metric: String): Double =
    tracer.notes.collect { case ((_, m), v) if m == metric => v }.sum

  private val jobs = ev.jobs.asScala.toSeq.filter(_.span.exists(i => byId.contains(i) && !isProbe(i)))
  private val stageSpan: Map[Int, Int] = jobs.reverse.flatMap(j => j.stages.map(_ -> j.span.get)).toMap
  private val stages = ev.stages.asScala.toSeq.filter(s => stageSpan.contains(s.id))
  private val stageSubmit = stages.map(s => s.id -> s.submitted).toMap
  private val tasks = ev.tasks.asScala.toSeq.filter(t => stageSpan.contains(t.stage))

  /** Queries whose planning began inside a non-probe span. */
  private def spanAt(t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(-_.start).headOption
  private val queries = ev.queries.asScala.toSeq.flatMap { q =>
    q.planPhases.map(_._1).sorted.headOption.flatMap(spanAt).filter(s => !isProbe(s.id))
      .map(s => (s, q))
  }

  /** Mean per call of `within` of the time of the queries run inside it
    * that return exactly these columns: how the report's inner analysis
    * queries are told apart.
    */
  def queryMs(within: String, columns: Seq[String]): Double =
    queries.collect { case (s, q) if q.columns == columns && under(s.id, within) => q.ms }
      .sum / math.max(1, calls(within))

  /** Rows and partitions read by the file scans of queries run inside any
    * of these spans.
    */
  def scanned(within: Set[String]): (Long, Long) = {
    val qs = queries.collect { case (s, q) if within.exists(under(s.id, _)) => q }
    (qs.map(_.scanRows).sum, qs.map(_.partitionsRead).sum)
  }

  /** Rows and bytes written by tasks of spans with this name, per call. */
  def written(name: String): (Double, Double) = {
    val ts = tasks.filter(t => under(stageSpan(t.stage), name))
    val n = math.max(1, calls(name))
    (ts.map(_.outRows).sum.toDouble / n, ts.map(_.outBytes).sum.toDouble / n)
  }

  private def per(x: Double): Double = x / math.max(1, ops)

  def spark: Map[String, Double] = {
    val planMs = queries.map(_._2.planPhases.map { case (a, b) => b - a }.sum).sum
    val comp = ev.compiles.asScala.toSeq.filter(_.span.exists(i => byId.contains(i) && !isProbe(i)))
    val straggler = tasks.filter(_.ok).groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.ms.toDouble).sorted
      val med = d(d.size / 2)
      if (med <= 0) 1.0 else d.last / med
    }
    Map(
      "spark.plan_ms" -> per(planMs),
      "spark.codegen_compiles" -> per(comp.size.toDouble),
      "spark.codegen_ms" -> per(comp.map(_.ms).sum),
      "spark.jobs" -> per(jobs.size.toDouble),
      "spark.stages" -> per(stages.size.toDouble),
      "spark.tasks" -> per(tasks.size.toDouble),
      "spark.task_run_ms" -> per(tasks.map(_.runMs).sum.toDouble),
      "spark.task_cpu_ms" -> per(tasks.map(_.cpuMs).sum),
      "spark.shuffle_write_bytes" -> per(tasks.map(_.shuffleWrite).sum.toDouble),
      "spark.shuffle_read_bytes" -> per(tasks.map(_.shuffleRead).sum.toDouble),
      "spark.spill_bytes" -> per(tasks.map(_.spill).sum.toDouble),
      "spark.task_wait_ms" -> per(tasks.map(t =>
        math.max(0L, t.launch - stageSubmit.getOrElse(t.stage, t.launch))).sum.toDouble),
      "spark.straggler_ratio" -> (if (straggler.isEmpty) 1.0 else straggler.sum / straggler.size),
      "spark.gc_ms" -> per(tasks.map(_.gcMs).sum.toDouble),
      "spark.input_rows" -> per(tasks.map(_.inRows).sum.toDouble),
      "spark.input_bytes" -> per(tasks.map(_.inBytes).sum.toDouble),
      "spark.failed_tasks" -> per(tasks.count(!_.ok).toDouble))
  }

  /** Spans as JSON lines, written once when the run ends. */
  def spansJson: Seq[String] = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""start_ms":${s.start},"end_ms":${s.end},"self_ms":${selfMs(s.id)},"probe":${s.probe}}"""
  }
}
