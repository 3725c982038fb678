package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload and writes `result.json`
  * (timings, memory, in-JVM check verdicts, per-layer metrics) and, traced,
  * `trace.json` (every span plus per-top-level-span counters) under --out.
  *
  * Usage: perfbench.Main --workload ingest|curate_x10
  *   --data DIR --corpus DIR --work DIR --out DIR
  *   --seconds N --trace 0|1 --seed N --cpus N
  *
  * After the set-up (session start plus the workload's own), the timed
  * closed loop repeats the workload's unit of work until --seconds have
  * passed; with --trace 1 every unit is traced. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val work = Paths.get(a("work"))
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val setupStart = System.nanoTime()
    val spark = GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus, "perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val collector = new Collector
    val tracer = new Tracer(spark.sparkContext)
    spark.streams.addListener(collector.streams)
    if (trace) {
      // the session's ExecutionListenerBus must precede the collector on
      // the shared listener queue (see Collector.pending)
      spark.listenerManager.register(collector)
      spark.sparkContext.addSparkListener(collector)
    }
    val ctx = Ctx(a("data"), a("corpus"), work, out, a("seed").toLong,
      tracer, collector)
    val w: Workload = a("workload") match {
      case "ingest" => new Ingest(ctx)
      case "curate_x10" => new Curate(ctx)
    }
    w.setup(spark)
    val setupS = (System.nanoTime() - setupStart) / 1e9

    val reps = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    tracer.enabled = trace
    while ((System.nanoTime() - t0) / 1e9 < seconds || reps.isEmpty) {
      tracer.run = s"rep${reps.size}"
      var repOps = Seq.empty[(String, Double)]
      reps += Workload.timed(tracer.span("rep") {
        repOps = w.rep(spark, reps.size) })
      ops ++= repOps
    }
    tracer.enabled = false
    org.apache.spark.BusDrain.await(spark.sparkContext)
    // peak memory of set-up and the timed loop, before the checks run
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble
        / 1024).getOrElse(0.0)

    val badChecks = w.check(spark)
    val layers = if (trace) Report.layers(w, tracer, collector, reps.toSeq,
      out) else Map.empty[String, Double]
    spark.stop()

    val failed = w.failedOps.toSet ++ badChecks
    def arr(xs: Iterable[Double]) = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
    def strs(xs: Iterable[String]) =
      xs.map(x => "\"" + x.replaceAll("[\"\\\\]", "_") + "\"").mkString("[", ",", "]")
    val json =
      s"""{"setup_s":$setupS,""" +
      s""""reps_s":${arr(reps)},""" +
      s""""ops_s":${arr(ops.map(_._2))},""" +
      s""""op_keys":${strs(ops.map(_._1))},""" +
      s""""op_keys_failed":${strs(failed)},""" +
      s""""peak_rss_mb":$rss,""" +
      s""""layers":{${layers.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + k + "\":" + f"$v%.6f" }.mkString(",")}}}"""
    Files.writeString(out.resolve("result.json"), json)
  }
}

/** Per-layer metrics from the traced units of work. */
object Report {
  def layers(w: Workload, tracer: Tracer, col: Collector,
      reps: Seq[Double], out: Path): Map[String, Double] = {
    val spans = tracer.spans.asScala.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    val roots = spans.filter(s => s.name == "rep" && s.parent == 0)
    val n = roots.size.max(1).toDouble
    def rootOf(s: Span): Span =
      if (s.parent == 0) s else rootOf(byId(s.parent))
    def topOf(s: Span): Option[Span] =
      if (s.parent == 0) None
      else if (byId(s.parent).parent == 0) Some(s)
      else topOf(byId(s.parent))
    val accs = col.snapshot().filter { case (id, _) => byId.contains(id) }

    /** Length of the union of intervals, clipped to [lo, hi]. */
    def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
      var end = lo
      var sum = 0.0
      iv.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter(x => x._2 > x._1)
        .sortBy(_._1).foreach { case (s, e) =>
          if (e > end) { sum += e - s.max(end); end = e }
        }
      sum
    }
    def self(s: Span): Double = (s.end - s.start) -
      covered(kids.getOrElse(s.id, Nil).map(k => (k.start.toDouble,
        k.end.toDouble)), s.start.toDouble, s.end.toDouble)

    // job intervals are wall-clock ms; spans are nanoTime
    val offMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def idleMs(r: Span): Double = {
      val iv = accs.toSeq.filter { case (id, _) => rootOf(byId(id)) == r }
        .flatMap(_._2.jobIntervals).map { case (s, e) =>
          (s.toDouble, e.toDouble) }
      val lo = r.start / 1e6 + offMs
      val hi = r.end / 1e6 + offMs
      (hi - lo) - covered(iv, lo, hi)
    }
    def sum(f: Acc => Double): Double = accs.values.map(f).sum
    val skews = accs.values.flatMap(_.stageTaskMs.values)
      .filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        val med = s(s.size / 2).max(1L)
        s.last.toDouble / med
      }
    val partsTotal = sum(_.partsTotal.toDouble)
    def median(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val selfSum = roots.map(r => spans.filter(s => rootOf(s) == r)
      .map(self).sum / (r.end - r.start))

    val generic = Map(
      "plans.planning_ms" -> sum(_.planningMs) / n,
      "plans.sql_executions" -> sum(_.sqlExecs.toDouble) / n,
      "scheduler.jobs" -> sum(_.jobs.toDouble) / n,
      "scheduler.tasks" -> sum(_.tasks.toDouble) / n,
      "scheduler.idle_ms" -> roots.map(idleMs).sum / n,
      "executor.run_ms" -> sum(_.runMs.toDouble) / n,
      "executor.cpu_ms" -> sum(_.cpuNs / 1e6) / n,
      "executor.gc_ms" -> sum(_.gcMs.toDouble) / n,
      "executor.task_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "shuffle.write_records" -> sum(_.shWriteRecords.toDouble) / n,
      "shuffle.write_bytes" -> sum(_.shWriteBytes.toDouble) / n,
      "shuffle.spill_bytes" -> sum(_.spillBytes.toDouble) / n,
      "sources.input_records" -> sum(_.scanRows.toDouble) / n,
      "sources.files_read" -> sum(_.scanFiles.toDouble) / n,
      "sources.partitions_read_frac" ->
        (if (partsTotal > 0) sum(_.partsRead.toDouble) / partsTotal else 0.0),
      "trace.run_s" -> median(reps),
      "trace.self_sum_ratio" -> selfSum.sum / selfSum.size.max(1),
      "trace.spans" -> spans.size / n)

    // per top-level span: count, wall, self and counters of its subtree
    val tops = spans.groupBy(s => topOf(s).map(_.name).getOrElse("rep"))
    val topJson = tops.toSeq.sortBy(_._1).map { case (name, ss) =>
      val a = ss.flatMap(s => accs.get(s.id))
      val own = ss.filter(s => topOf(s).contains(s))
      def t(f: Acc => Long) = a.map(f).sum
      s""""$name":{"count":${own.size},""" +
        f""""wall_ms":${own.map(s => (s.end - s.start) / 1e6).sum}%.3f,""" +
        f""""self_ms":${ss.map(self).sum / 1e6}%.3f,""" +
        s""""sql_executions":${t(_.sqlExecs)},"jobs":${t(_.jobs)},""" +
        s""""tasks":${t(_.tasks)},"shuffle_records":${t(_.shWriteRecords)},""" +
        s""""input_records":${t(_.scanRows)}}"""
    }.mkString("{", ",", "}")
    val spanJson = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""run":"${s.run}","start_ns":${s.start},"end_ns":${s.end}}""")
      .mkString("[", ",\n", "]")
    Files.writeString(out.resolve("trace.json"),
      s"""{"top_level":$topJson,"spans":$spanJson}""")

    // the hybrid read's subtree: plan (which may run the ANN leg's
    // candidate collect) and execute
    val hybrid = spans.filter(_.name.startsWith("operators.hybrid"))
    val scanned = hybrid.flatMap(s => accs.get(s.id)).map(_.scanRows).sum
    val serving = Map(
      "operators.hybrid.plan_ms" ->
        Workload.spanMs(spans, _ == "operators.hybrid.plan") / n,
      "operators.hybrid.execute_ms" ->
        Workload.spanMs(spans, _ == "operators.hybrid.execute") / n,
      "operators.hybrid.scanned_per_result" ->
        scanned / n / w.hybridResults.max(1))
    generic ++ serving ++ w.layers(spans, roots.size.max(1))
  }
}
