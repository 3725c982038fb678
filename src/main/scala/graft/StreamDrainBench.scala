package graft

import org.apache.spark.sql.functions.col

/** Dev-only streaming-maintenance throughput floor (r11 verdict #7): the
  * three persisted-index ingest loops (dedup q145, IVF-PQ ANN q154, FTS
  * q160) are correctness-gated by their oracles but were never TIMED — a
  * regression in foreachBatch/upsert overhead would be invisible. This
  * main runs each full drain (stage + 3 checkpointed micro-batches +
  * family upsert fold) at the given SF dir and prints one JSON line with
  * wall seconds, rows drained, and rows/s — recorded per round in
  * bench/r{N}/stream_drain.json as the pinned floor.
  *
  * rowsDrained is the total input rows across the drain's micro-batches
  * (q145/q160: the documents slices; q154: 1.5× the vector table — the
  * re-crawl slice re-delivers the evens), so rows/s measures the ingest
  * loop end-to-end: shingle/encode, probe, bucket routing, partition
  * rewrite, checkpoint commit.
  *
  * Usage: runMain graft.StreamDrainBench [sfDir]
  */
object StreamDrainBench {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local("graft-streamdrain")
    spark.sparkContext.setLogLevel("WARN")
    val nDocs = Tables.documents(spark, dir).count()
    val nVecs = Tables.embeddings(spark, dir).count()
    // SPARK_GRAFT_DRAIN_JOBS=1: per-job breakdown to stderr — job wall +
    // gap-to-previous-job (gaps are driver/checkpoint-commit time, the
    // fixed cost the r12 floors blamed), grouped by job description
    val traceJobs = sys.env.get("SPARK_GRAFT_DRAIN_JOBS").contains("1")
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    // SQL executions = driver ACTIONS (each is a planning round-trip and a
    // full barrier between stages of the ingest loop) — the signal the r13
    // per-batch fusions move; AQE re-splits executions into per-stage JOBS,
    // so the job count alone can hide an action-count change
    val execCount = new java.util.concurrent.atomic.AtomicInteger(0)
    if (traceJobs) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts(js.jobId) = (js.time, Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""))
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          starts.remove(je.jobId).foreach { case (t0, desc) =>
            jobLog.add((je.jobId, t0, je.time, desc)) }
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
              execCount.incrementAndGet()
            case _ =>
          }
      })
    val loops = Seq(
      ("q145_stream_ingest_dedup", nDocs),
      ("q154_stream_ann_ingest", nVecs * 3 / 2),
      ("q160_stream_fts_ingest", nDocs + nDocs / 5))
    val rows = loops.map { case (name, drained) =>
      jobLog.clear()
      execCount.set(0)
      val t0 = System.nanoTime()
      val out = SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      if (traceJobs) {
        Thread.sleep(1000) // listener bus drain
        import scala.jdk.CollectionConverters._
        val jobs = jobLog.asScala.toSeq.sortBy(_._1)
        var prevEnd = 0L
        var gapTotal = 0L
        var runTotal = 0L
        System.err.println(
          s"==== $name: ${jobs.size} jobs, ${execCount.get} sql executions ====")
        jobs.foreach { case (id, s0, e0, desc) =>
          val gap = if (prevEnd == 0) 0 else math.max(0, s0 - prevEnd)
          gapTotal += gap; runTotal += (e0 - s0); prevEnd = e0
          System.err.println(f"  job $id%4d ${(e0 - s0) / 1e3}%7.2fs gap ${gap / 1e3}%6.2fs  ${desc.take(90)}")
        }
        System.err.println(f"  [sum] jobs ${runTotal / 1e3}%.1fs  gaps(driver) ${gapTotal / 1e3}%.1fs  wall $sec%.1fs")
      }
      f"""{"loop":"$name","drainSec":$sec%.2f,"rowsDrained":$drained,""" +
        f""""rowsPerSec":${drained / sec}%.0f,"outputRows":$out}"""
    }
    println(s"""{"dir":"$dir","nDocs":$nDocs,"nVecs":$nVecs,""" +
      s""""loops":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
