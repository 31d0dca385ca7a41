package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `parent` is the enclosing span's id (-1 at top level). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Long, var endMs: Long = 0L, var wallNs: Long = 0L)

/** Counters attributed to one span (its own jobs and queries, not its
  * children's). */
final class Counters {
  var jobs = 0
  var tasks = 0
  var taskNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var peakExecMem = 0L
  var planningMs = 0.0
  var csvScans = 0
  var csvScanBytes = 0L
  var filesWritten = 0L
  var nativeExprQueries = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def jobCoveredMs(fromMs: Long, toMs: Long): Long = {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered + (curB - curA)
  }
}

/** Spans plus the listeners that fill their counters.
  *
  * Jobs and tasks are attributed to a span through the job group
  * that [[span]] sets on the calling thread. Query executions (planning
  * phases, executed-plan scans and writes) reach the listener without any
  * thread context, so [[span]] drains the listener bus at both of its
  * edges: every query that finished in between belongs to the span. */
final class Tracer(spark: SparkSession, runId: String) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sc: SparkContext = spark.sparkContext
  private val GroupPrefix = "perfbench-span-"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val pendingQueries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  private var stack = List.empty[Span]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def counters(spanId: Int): Counters = synchronized(bySpan.getOrElseUpdate(spanId, new Counters))

  private def drainTo(spanId: Int): Unit = {
    ListenerBus.drain(sc)
    var qe = pendingQueries.poll()
    while (qe != null) {
      if (spanId >= 0) recordQuery(counters(spanId), qe)
      qe = pendingQueries.poll()
    }
  }

  /** Times `body` as a span named `name`, nested in the current span. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    drainTo(parent.map(_.id).getOrElse(-1))
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), runId, System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      s.wallNs = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      drainTo(s.id)
      stack = stack.tail
      parent match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Span time, in ms, not covered by any of the span's own Spark jobs. */
  def driverOnlyMs(s: Span): Double = {
    val c = counters(s.id)
    (s.endMs - s.startMs - synchronized(c.jobCoveredMs(s.startMs, s.endMs))).toDouble
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(GroupPrefix)).foreach { g =>
      val id = g.stripPrefix(GroupPrefix).toInt
      jobSpan(e.jobId) = (id, e.time)
      e.stageIds.foreach(stageSpan(_) = id)
      counters(id).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, t0) => counters(id).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(id)
      c.tasks += 1
      c.taskNs += m.executorRunTime * 1000000L
      c.gcMs += m.jvmGCTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.outputBytes += m.outputMetrics.bytesWritten
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    pendingQueries.add(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def recordQuery(c: Counters, qe: QueryExecution): Unit = {
    val plan = qe.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    val native = nodes.exists(_.expressions.exists(_.exists(
      _.getClass.getName.startsWith("graft.expressions."))))
    synchronized {
      c.planningMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      if (native) c.nativeExprQueries += 1
      nodes.foreach {
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
          c.csvScans += 1
          c.csvScanBytes += metric(s, "filesSize")
        case w: DataWritingCommandExec =>
          c.filesWritten += metric(w, "numFiles")
        case _ =>
      }
    }
  }

  /** Stops listening; counters stay readable. */
  def close(): Unit = {
    ListenerBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
