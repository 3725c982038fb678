package graft.obs

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftShims, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One shuffle exchange of an executed plan: what it wrote and its input. */
final case class Exchange(records: Long, bytes: Long, child: String, node: String)

/** What one named unit of work cost. `planningMs` sums Catalyst's phase
  * times over its SQL executions; `jobBusyMs` is the time any of its jobs
  * ran, `driverGapMs` the rest of the wall; `plans` hold AQE's final plans.
  * `observed` holds the `Dataset.observe` results of those executions,
  * grouped by name prefix (the part before `#`): one entry per
  * observation, in execution order (by name within one execution); an
  * observation two executions share (e.g. through a cached plan) is
  * reported once. `codegen` is what Spark's code generator compiled during
  * the unit ([[Codegen]]). */
final case class Record(name: String, wallMs: Double, planningMs: Long,
    sqlExecutions: Long, jobs: Long, jobBusyMs: Long, driverGapMs: Long,
    shuffleRecords: Long, shuffleBytes: Long, codegen: Codegen,
    plans: Seq[QueryExecution], observed: Seq[(String, Seq[Row])]) {

  def exchanges: Seq[Exchange] = plans.flatMap(qe => Profile.nodes(qe.executedPlan))
    .collect { case s: ShuffleExchangeLike =>
      def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(-1L)
      Exchange(metric("shuffleRecordsWritten"), metric("shuffleBytesWritten"),
        s.children.headOption.map(_.nodeName).getOrElse("?"), s.nodeName)
    }

  def json: String =
    f"""{"name":${Profile.str(name)},"wall_ms":$wallMs%.1f,""" +
      f""""planning_ms":$planningMs,"execution_ms":${wallMs - planningMs}%.1f,""" +
      s""""sql_executions":$sqlExecutions,"jobs":$jobs,""" +
      s""""job_busy_ms":$jobBusyMs,"driver_gap_ms":$driverGapMs,""" +
      s""""shuffle_records":$shuffleRecords,"shuffle_bytes":$shuffleBytes,""" +
      s""""codegen_classes":${codegen.classes},"codegen_source_bytes":""" +
      s"""${codegen.sourceBytes},"codegen_compile_ms":${codegen.compileMs},""" +
      observed.map { case (p, rs) => Profile.str(p) + rs.map(_.json).mkString(":[", ",", "]") }
        .mkString(""""observed":{""", ",", "}}")
}

/** Classes Spark's code generator compiled, their generated source bytes and
  * their compile ms, as deltas of its `CodegenMetrics` counters. These are
  * JVM-wide: they cover the driver JVM only — which under `local[N]` also
  * runs the executors, so there they count every compile — and they include
  * any concurrent work outside the unit. `classes` is exact; bytes and ms
  * sum the histograms' retained samples and read -1 once the JVM has
  * compiled more classes than a histogram retains (1,028), because the sum
  * is then a sample (and stays one). */
final case class Codegen(classes: Long, sourceBytes: Long, compileMs: Long) {
  def -(o: Codegen): Codegen = Codegen(classes - o.classes,
    if (sourceBytes < 0) -1L else sourceBytes - o.sourceBytes,
    if (compileMs < 0) -1L else compileMs - o.compileMs)
}

object Codegen {
  private def sum(h: com.codahale.metrics.Histogram) =
    Some(h.getSnapshot).filter(_.size == h.getCount).map(_.getValues.sum).getOrElse(-1L)
  def now(): Codegen = Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    sum(CodegenMetrics.METRIC_SOURCE_CODE_SIZE), sum(CodegenMetrics.METRIC_COMPILATION_TIME))
}

/** The engine's one metrics collector; constructing it attaches it to the
  * session's context, so only mains that profile pay for it.
  * `profile(name) { body }` runs `body` as a unit of work and returns its
  * [[Record]], built after a listener-bus drain. Work is attributed by job
  * tag, not job group: threads the unit starts inherit its tag, and a
  * streaming query's thread keeps the tags when it replaces the job group
  * with its run id. An outer unit also counts its inner units' work. */
final class Profile(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)

  private final class Acc {
    var planningMs, execs, jobs, shRecords, shBytes = 0L
    val jobTimes = mutable.ArrayBuffer.empty[(Long, Long)]
    val plans = mutable.ArrayBuffer.empty[QueryExecution]
  }
  // open units by tag, and the units each running stage/job/execution feeds
  private val open = mutable.Map.empty[String, Acc]
  private val stageAccs = mutable.Map.empty[Int, Seq[Acc]]
  private val jobAccs = mutable.Map.empty[Int, (Seq[Acc], Long)]
  private val execAccs = mutable.Map.empty[Long, Seq[Acc]]
  sc.addSparkListener(this)

  def apply[T](name: String)(body: => T): (T, Record) = {
    val tag = s"graft-profile-${ids.incrementAndGet()}"
    val a = new Acc
    synchronized(open(tag) = a)
    try {
      sc.addJobTag(tag)
      val (t0, c0) = (System.nanoTime(), Codegen.now())
      val out = try body finally sc.removeJobTag(tag)
      val (wallMs, codegen) = ((System.nanoTime() - t0) / 1e6, Codegen.now() - c0)
      GraftShims.drainListenerBus(sc)
      (out, synchronized(record(name, wallMs, codegen, a)))
    } finally synchronized {
      open.remove(tag)
      stageAccs.filterInPlace((_, as) => !as.contains(a))
    }
  }

  private def record(name: String, wallMs: Double, codegen: Codegen,
      a: Acc): Record = {
    val busy = a.jobTimes.sortBy(_._1).foldLeft((0L, 0L)) { case ((sum, end), (s, e)) =>
      (sum + math.max(0L, e - math.max(s, end)), math.max(end, e))
    }._1
    val seen = a.plans.toSeq.flatMap(_.observedMetrics.toSeq.sortBy(_._1))
      .distinctBy(_._1).map { case (n, r) => (n.takeWhile(_ != '#'), r) }
    Record(name, wallMs, a.planningMs, a.execs, a.jobs, busy,
      math.max(0L, math.round(wallMs) - busy), a.shRecords, a.shBytes, codegen,
      a.plans.toSeq,
      seen.map(_._1).distinct.map(p => p -> seen.collect { case (`p`, r) => r }))
  }

  /** Stops collecting; units still open record nothing more. */
  def close(): Unit = sc.removeSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val as = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).flatMap(open.get)
    if (as.nonEmpty) {
      js.stageIds.foreach(stageAccs(_) = as)
      jobAccs(js.jobId) = (as, js.time)
      as.foreach(_.jobs += 1)
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    for ((as, t0) <- jobAccs.remove(je.jobId); a <- as) a.jobTimes += ((t0, je.time))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    for (as <- stageAccs.get(te.stageId); m <- Option(te.taskMetrics); a <- as) {
      a.shRecords += m.shuffleWriteMetrics.recordsWritten
      a.shBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized(e match {
    case s: SparkListenerSQLExecutionStart =>
      val as = s.jobTags.toSeq.flatMap(open.get)
      if (as.nonEmpty) execAccs(s.executionId) = as
      as.foreach(_.execs += 1)
    case end: SparkListenerSQLExecutionEnd =>
      for (as <- execAccs.remove(end.executionId);
           qe <- Option(GraftShims.queryExecution(end)); a <- as) {
        a.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
        a.plans += qe
      }
    case _ =>
  })
}

object Profile {
  private val observations = new AtomicLong

  /** A name for one `Dataset.observe` call, `prefix#<n>`: unique in the
    * JVM, because Spark rejects two different observations of one name in
    * one query; [[Record.observed]] groups by the prefix. */
  def observationName(prefix: String): String =
    s"$prefix#${observations.incrementAndGet()}"

  /** Every node of an executed plan, AQE stages and their plans included. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  }) :+ p

  def str(s: String): String =
    "\"" + s.replaceAll("[\\\\\"]", " ").replaceAll("[\\x00-\\x1f]", " ") + "\""
}
