package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession factory: UTC, AQE on, shuffle parallelism sized to the
  * local core count (not the 200 default), nanos-parquet compatibility for the
  * events table. On a real cluster only master/memory change — the SQL conf
  * here is scale-portable (AQE re-plans shuffles at runtime, so the
  * shuffle.partitions value is a floor, not a magic number).
  */
object GraftSession {
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(4, Runtime.getRuntime.availableProcessors()).toString)
    configure(SparkSession.builder().master(s"local[$cpus]"), cpus, appName)
      .getOrCreate()
  }

  def configure(b: SparkSession.Builder, cpus: String, appName: String): SparkSession.Builder =
    b.appName(appName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // interval-only theta joins auto-rewrite to banded equi joins
      // (plans.BandedIntervalJoinRule); 0 disables
      .config("spark.graft.rangeJoin.bandSeconds", "86400")
      // fact-first inner-join chains rotate much-smaller relations below
      // the big exchange (plans.DimsFirstJoinReorder); false disables
      .config("spark.graft.joinReorder.dimsFirst", "true")
      .config("spark.ui.enabled", "false")
      // static: the generated-class cache. One dedup ingestBatch compiles
      // about 77 classes, so the default 100 entries evicted a streaming
      // drain's classes between micro-batches and each batch recompiled
      // them
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // above the largest bucket geometry the indexes write (64 term
      // buckets, IVF lists or LSH sign buckets by default): a table with
      // more partition directories than this is listed by a Spark job of
      // one task per directory, which cost 0.3 s per index read
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
}
