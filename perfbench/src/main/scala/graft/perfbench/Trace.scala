package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the library, and the listener
  * that attributes Spark's jobs, stages, tasks and query plans to them.
  *
  * A span is `(id, op, parent, name, start, end)`; spans of one op share
  * `op`. While a span is open its id rides the Spark local property
  * [[SpanProperty]], so every job the client thread submits carries it
  * (Spark copies local properties into broadcast and subquery threads too).
  * Events land on the innermost open span. Everything stays in memory and
  * is read once, after the traced phase ends.
  */
object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Long, op: Int, parent: Long, name: String,
      startMs: Long, startNs: Long, endMs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != ':')
    def durS: Double = (endNs - startNs) / 1e9
  }

  @volatile private var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private var nextId = 0L
  // open spans of the (single) client thread: (id, op)
  private var stack: List[(Long, Int)] = Nil
  private var spark: SparkSession = _
  private val installed = new ConcurrentHashMap[SparkSession, Tracer]()

  /** Register the tracer on `s` once (the SqlStrategy.setup shape: check,
    * then add); later calls return the registered instance.
    */
  def install(s: SparkSession): Tracer = {
    spark = s
    installed.computeIfAbsent(s, _ => {
      val t = new Tracer
      s.sparkContext.addSparkListener(t)
      s.listenerManager.register(t)
      t
    })
  }

  /** Run `body` with span recording on. */
  def during[T](body: => T): T = {
    on = true
    try body finally on = false
  }

  def enabled: Boolean = on

  def recorded: Seq[Span] = spans.asScala.toSeq

  /** Write `spans` as JSON lines, each with its self time (duration minus
    * its children's).
    */
  def write(spans: Seq[Span], file: String): Unit = {
    val children = spans.groupBy(_.parent)
    new java.io.File(file).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      val self = s.durS - children.getOrElse(s.id, Nil).map(_.durS).sum
      w.println(s"""{"id": ${s.id}, "op": ${s.op}, "parent": ${s.parent}, "name": ${Report.str(s.name)}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_s": ${s.durS}, "self_s": $self}""")
    } finally w.close()
  }

  /** The root span of op `i`. */
  def op[T](i: Int)(body: => T): T = open("op", Some(i))(body)

  /** A span named `layer:call` around `body`. */
  def span[T](name: String)(body: => T): T = open(name, None)(body)

  private def open[T](name: String, opIndex: Option[Int])(body: => T): T = {
    if (!on) return body
    nextId += 1
    val id = nextId
    val parent = stack.headOption
    val op = opIndex.orElse(parent.map(_._2)).getOrElse(-1)
    stack = (id, op) :: stack
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProperty, id.toString)
    val (sMs, sNs) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      spans.add(Span(id, op, parent.map(_._1).getOrElse(0L), name, sMs, sNs,
        System.currentTimeMillis(), System.nanoTime()))
      stack = stack.tail
      sc.setLocalProperty(SpanProperty, stack.headOption.map(_._1.toString).orNull)
    }
  }
}

/** Raw event records, attributed to spans after the run. */
object Events {
  final case class Job(id: Int, span: Long, execId: Long, stages: Seq[Int])
  final case class Stage(id: Int, submitMs: Long, completeMs: Long)
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      shuffleReadBytes: Long, spillBytes: Long, inputBytes: Long)
  final case class Query(queryId: Long, analysisMs: Long, optimizeMs: Long,
      physicalMs: Long, exchanges: Int, scanFiles: Long)
  /** `queries` carry `QueryExecution.id`; `execOfQuery` maps it to the
    * SQL execution id that the execution's jobs carry.
    */
  final case class All(spans: Seq[Trace.Span], jobs: Seq[Job], stages: Seq[Stage],
      tasks: Seq[Task], queries: Seq[Query], execOfQuery: Map[Long, Long])
}

final class Tracer extends SparkListener with QueryExecutionListener {
  import Events._
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val queries = new ConcurrentLinkedQueue[Query]()
  private val execOfQuery = new ConcurrentHashMap[Long, Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.PerfbenchSql.queryIdOf(end).foreach(execOfQuery.put(_, end.executionId))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    p.flatMap(x => Option(x.getProperty(Trace.SpanProperty))).foreach { span =>
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.add(Job(e.jobId, span.toLong, exec, e.stageIds))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.put(i.stageId, Stage(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
        m.inputMetrics.bytesRead))
  }

  private object plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val exchanges = plans.collectWithSubqueries(plan) {
      case x: ShuffleExchangeLike => x
    }.size
    val scans = plans.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    queries.add(Query(qe.id, ms("analysis"), ms("optimization"), ms("planning"),
      exchanges, scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait for the listener bus to deliver everything, then snapshot. */
  def collect(): All = {
    org.apache.spark.PerfbenchBus.drain()
    All(Trace.recorded, jobs.asScala.toSeq, stages.values.asScala.toSeq,
      tasks.asScala.toSeq, queries.asScala.toSeq, execOfQuery.asScala.toMap)
  }
}
