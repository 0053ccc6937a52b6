package graft.perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region of one operation (a batch or a query). `layer` is the
  * repo module the region's calls belong to; `parent` is -1 for an
  * operation's root span. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    op: String, start: Long, end: Long) {
  def wallS: Double = (end - start) / 1e9
}

/** Engine counters attributed to one span. */
final class EngineCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  var csvScans = 0L
  var scanRows = 0L
  /** Worst (max / median task time) over this span's multi-task stages. */
  var taskSkew = 0.0
}

/** Records spans on the single submitting thread and attributes Spark's
  * scheduler and SQL events to them.
  *
  * Jobs carry the innermost open span's id as a local property, so their
  * stages and tasks land on that span exactly. A query execution is
  * attributed by time: its planning phases start inside the span whose
  * action triggered it. Listener events arrive asynchronously; [[finish]]
  * drains the bus before anything is read.
  */
final class Tracer(spark: SparkSession) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  private val counts = mutable.Map.empty[Int, EngineCounts]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  // (planning start ms, planning ms, csv scans, scan rows)
  private val executions =
    mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]

  private def countsOf(span: Int): EngineCounts =
    counts.getOrElseUpdate(span, new EngineCounts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Key))).map(_.toInt).getOrElse(-1)
      countsOf(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val span = stageSpan.getOrElse(e.stageId, -1)
      val c = countsOf(span)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.executorRunMs += m.executorRunTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val id = e.stageInfo.stageId
        val c = countsOf(stageSpan.getOrElse(id, -1))
        c.stages += 1
        stageTaskMs.remove(id).filter(_.size >= 2).foreach { ms =>
          val med = Stats.median(ms.map(_.toDouble).toSeq)
          if (med > 0) c.taskSkew = math.max(c.taskSkew, ms.max / med)
        }
      }
  }

  private val qel = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      val plan: SparkPlan = qe.executedPlan
      val scans = collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s
      }
      val csv = scans.filter(_.relation.fileFormat.isInstanceOf[CSVFileFormat])
      def rows(p: SparkPlan): Long =
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      val start = if (phases.isEmpty) System.currentTimeMillis()
        else phases.map(_.startTimeMs).min
      Tracer.this.synchronized {
        executions += ((start, phases.map(_.durationMs).sum, csv.size.toLong,
          scans.map(rows).sum))
      }
    }
  }

  // wall-clock bounds of each span, for attributing query executions
  private val wall = mutable.Map.empty[Int, (Long, Long)]

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compilationsAtStart = 0L
  /** Generated classes compiled between [[start]] and [[finish]]: every
    * miss of Spark's generated-code cache. */
  var codegenCompiles = 0L

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
    compilationsAtStart = compilations
  }

  /** Drain the listener bus, detach, and attribute query executions. */
  def finish(): Unit = {
    codegenCompiles = compilations - compilationsAtStart
    org.apache.spark.graft.ListenerDrain.drain(sc)
    spark.listenerManager.unregister(qel)
    sc.removeSparkListener(listener)
    synchronized {
      executions.foreach { case (startMs, planMs, csvScans, scanRows) =>
        // innermost span whose wall window holds the planning start
        val owner = wall.toSeq.filter { case (_, (a, b)) =>
          a <= startMs && startMs <= b
        }.sortBy { case (_, (a, b)) => b - a }.headOption.map(_._1).getOrElse(-1)
        val c = countsOf(owner)
        c.planMs += planMs; c.csvScans += csvScans
        c.scanRows += scanRows
      }
      executions.clear()
    }
  }

  def span[A](name: String, layer: String, op: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    open = id :: open
    sc.setLocalProperty(Key, id.toString)
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.toString).orNull)
      spans += Span(id, name, layer, parent, op, t0, t1)
      wall(id) = (w0, System.currentTimeMillis())
    }
  }

  def allSpans: Seq[Span] = spans.toSeq
  def engine(span: Int): EngineCounts =
    synchronized(counts.getOrElse(span, new EngineCounts))
  def unattributed: EngineCounts = engine(-1)
}

object Tracer {
  /** Run `body` inside `t`'s span when tracing, bare otherwise. */
  def maybe[A](t: Option[Tracer], name: String, layer: String, op: String)(
      body: => A): A = t match {
    case Some(tr) => tr.span(name, layer, op)(body)
    case None => body
  }
}
