package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval of benchmark time: the call into a layer that the
  * benchmark made, the span that caused it (`parent`, 0 = none) and the
  * unit of work it belongs to (`run`, e.g. `rep3`). */
final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Long, end: Long)

/** In-memory span recorder. While a span is open on a thread, Spark jobs
  * that thread issues carry the job group `pb:<span id>`, which is how the
  * listeners below attribute scheduler, executor, shuffle and SQL counters
  * to the innermost span. Disabled, `span` just runs its body. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  @volatile var run = ""
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def current: Int = stack.get.headOption.getOrElse(0)

  /** Record `body` as span `name`. `parent` overrides the thread's open
    * span: a `foreachBatch` fold runs on the stream thread, so the ingest
    * workload passes the drain's span id explicitly. */
  def span[T](name: String, parent: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current
      val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
      stack.set(id :: stack.get)
      sc.setLocalProperty(Tracer.GroupKey, s"pb:$id")
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, p, run, t0, System.nanoTime()))
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.GroupKey, prevGroup)
      }
    }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"

  def groupOf(g: String): Option[Int] =
    Option(g).filter(_.startsWith("pb:")).map(_.drop(3).toInt)
}

/** Counters of one span (its own jobs only; subtree sums are taken when
  * the report is built). */
final class Acc {
  var sqlExecs = 0L
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shWriteRecords = 0L
  var shWriteBytes = 0L
  var spillBytes = 0L
  var planningMs = 0.0
  var scanRows = 0L
  var scanFiles = 0L
  var partsRead = 0L
  var partsTotal = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** One micro-batch as the stream reported it (`run`: the stream's run id). */
final case class Trigger(run: String, rows: Long,
    durations: Map[String, Long])

/** The benchmark's own listeners: a SparkListener (jobs, stages, tasks, SQL
  * executions), a QueryExecutionListener (Catalyst phase times and the
  * executed plan's scan metrics) and a StreamingQueryListener (per-trigger
  * durations). Counters are keyed by the span that issued the work. */
final class Collector extends SparkListener with QueryExecutionListener {
  private val accs = mutable.Map.empty[Int, Acc]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val execSpan = mutable.Map.empty[Long, Int]
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  @volatile var streamStarts = Vector.empty[Long]

  private def acc(id: Int): Acc = accs.getOrElseUpdate(id, new Acc)

  def snapshot(): Map[Int, Acc] = synchronized(accs.toMap)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    Option(js.properties).flatMap(p =>
      Tracer.groupOf(p.getProperty(Tracer.GroupKey))).foreach { id =>
      js.stageIds.foreach(stageSpan(_) = id)
      jobSpan(js.jobId) = (id, js.time)
      acc(id).jobs += 1
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(je.jobId).foreach { case (id, t0) =>
      acc(id).jobIntervals += ((t0, je.time))
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(te.stageId).foreach { id =>
      val a = acc(id)
      a.tasks += 1
      Option(te.taskInfo).foreach(ti =>
        a.stageTaskMs.getOrElseUpdate(te.stageId,
          mutable.ArrayBuffer.empty[Long]) += ti.duration)
      Option(te.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
        s.jobGroupId.flatMap(Tracer.groupOf).foreach { id =>
          execSpan(s.executionId) = id
          acc(id).sqlExecs += 1
        }
      }
    case e: SparkListenerSQLExecutionEnd =>
      val (qe, span) = synchronized {
        val r = (pending, execSpan.remove(e.executionId))
        pending = None
        r
      }
      for (q <- qe; id <- span) attribute(q, id)
    case _ =>
  }

  /** The QueryExecutionListener's view of the execution that just ended.
    * Spark calls it from the same listener queue, for the same
    * `SparkListenerSQLExecutionEnd`, just before this listener sees that
    * event (the session's listener bus is registered first), which is how
    * the execution id — and so the span — is found. */
  private var pending: Option[QueryExecution] = None

  override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { pending = Some(qe) }

  private def attribute(qe: QueryExecution, span: Int): Unit = {
    val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val scans = mutable.ArrayBuffer.empty[FileSourceScanExec]
    collectScans(qe.executedPlan, scans)
    synchronized {
      val a = acc(span)
      a.planningMs += planning
      scans.foreach { f =>
        def metric(k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
        a.scanRows += metric("numOutputRows")
        a.scanFiles += metric("numFiles")
        if (f.relation.partitionSchema.nonEmpty) {
          a.partsRead += metric("numPartitions")
          a.partsTotal += (f.relation.location match {
            case p: PartitioningAwareFileIndex =>
              p.partitionSpec().partitions.size
            case _ => 0
          })
        }
      }
    }
  }

  override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
    ()

  private def collectScans(p: SparkPlan,
      out: mutable.ArrayBuffer[FileSourceScanExec]): Unit = p match {
    case a: AdaptiveSparkPlanExec => collectScans(a.executedPlan, out)
    case q: QueryStageExec => collectScans(q.plan, out)
    case f: FileSourceScanExec => out += f
    case other =>
      other.children.foreach(collectScans(_, out))
      other.subqueries.foreach(collectScans(_, out))
  }

  /** Stream-side listener: one [[Trigger]] per reported progress. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = streamStarts :+= System.nanoTime()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.add(Trigger(p.runId.toString, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
