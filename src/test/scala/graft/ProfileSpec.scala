package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one metrics collector: what a unit counts, what it must not count,
  * and that its counters are final when the unit returns (no sleeps here —
  * a collector that needed one would fail the repeat test). */
class ProfileSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private lazy val prof = new obs.Profile(spark)

  override def afterAll(): Unit = prof.close()

  // a global count over 4 fixed partitions: one partial row per partition
  // crosses the single exchange
  private def globalCount: DataFrame = spark.range(0, 1000, 1, 4).groupBy().count()

  test("a unit counts its SQL executions and its plan's shuffle records") {
    val (rows, r) = prof("count")(globalCount.collect())
    assert(rows.head.getLong(0) == 1000L)
    assert(r.sqlExecutions == 1, r.json)
    assert(r.jobs >= 1, r.json)
    assert(r.shuffleRecords == 4, r.json)
    assert(r.exchanges.map(_.records).sum == r.shuffleRecords, r.exchanges)
    assert(r.shuffleBytes > 0 && r.exchanges.map(_.bytes).sum == r.shuffleBytes)
  }

  test("work outside the unit or in another unit is not counted") {
    val started = new java.util.concurrent.CountDownLatch(1)
    // started before the unit opens, so it never carries the unit's tag
    val outside = new Thread(() => {
      started.await()
      (1 to 3).foreach(_ => globalCount.collect())
    })
    outside.start()
    val (_, a) = prof("a") {
      started.countDown()
      globalCount.collect()
      outside.join()
    }
    globalCount.collect()
    val (_, b) = prof("b") { globalCount.collect(); globalCount.collect() }
    assert((a.sqlExecutions, a.shuffleRecords) == ((1L, 4L)), a.json)
    assert((b.sqlExecutions, b.shuffleRecords) == ((2L, 8L)), b.json)
  }

  test("planning time is positive and within the wall") {
    val (_, r) = prof("plan") {
      globalCount.join(spark.range(10).toDF("count"), "count").collect()
    }
    assert(r.planningMs > 0 && r.planningMs <= r.wallMs, r.json)
  }

  test("counters read right after the unit are final: five runs agree") {
    val counts = (1 to 5).map { i =>
      val (_, r) = prof(s"repeat$i")(globalCount.collect())
      (r.sqlExecutions, r.jobs, r.shuffleRecords, r.shuffleBytes)
    }
    assert(counts.distinct.size == 1, counts)
  }

  test("codegen counters: a new plan shape compiles, its immediate re-run compiles nothing") {
    import org.apache.spark.sql.functions.{col, lit}
    // a 37-term projection no other test builds, so its first run compiles
    def unit() = spark.range(0, 100, 1, 2)
      .select((1 to 37).foldLeft(col("id"))((c, i) => (c + lit(i)) % lit(97)).as("x"))
      .collect()
    val (_, cold) = prof("cold")(unit())
    val (_, warm) = prof("warm")(unit())
    assert(cold.codegen.classes > 0 && cold.codegen.sourceBytes != 0, cold.json)
    assert(warm.codegen.classes == 0, warm.json)
    assert(Set(0L, -1L)(warm.codegen.sourceBytes) &&
      Set(0L, -1L)(warm.codegen.compileMs), warm.json)
    assert(warm.json.contains(""""codegen_classes":0,"""), warm.json)
  }

  test("the q160 FTS drain's SQL executions include its stream thread's") {
    // the micro-batches run on the stream's own thread, under the stream's
    // job group. 24 under the copy-on-write upsert; merge-on-read appends
    // the batch and its tombstones instead of collecting affected buckets
    // and rewriting them with a side table
    val (_, r) = prof("q160") {
      SparkEntry.queries("q160_stream_fts_ingest")(spark, TestSpark.sf0001)
        .count()
    }
    assert(r.sqlExecutions == 15, r.json)
  }

  test("a unit reports each observation once, grouped by name prefix") {
    import org.apache.spark.sql.functions.{count, lit}
    def observed(n: Long) = spark.range(n)
      .observe(obs.Profile.observationName("rows"), count(lit(1)).as("n"))
    val (a, b) = (observed(3), observed(5))
    // two observations in one query, then one of them again
    val (_, r) = prof("observe") { a.union(b).collect(); a.collect() }
    assert(r.sqlExecutions == 2, r.json)
    assert(r.observed.map { case (p, rs) => p -> rs.map(_.getLong(0)).sorted } ==
      Seq("rows" -> Seq(3L, 5L)), r.json)
    // the record keeps them when its plans are dropped (Bench's payload)
    assert(r.copy(plans = Nil).json == r.json)
  }

  test("capped dedup paths: margin observed on the work, four zeros when nothing is hot") {
    // one unit = construction + count(): the margin rides the work's own
    // jobs, so it adds no SQL execution, and it is present (four zeros)
    // when no gate-corpus bucket is hot
    val zero = Seq(0L, 0L, 0L, 0L)
    for ((name, prefix, execs, batches) <- Seq(
        ("q174_capped_minhash", "lsh-cap", 1, 1),
        ("q175_capped_incremental", "lsh-cap-inc", 1, 1),
        ("q177_capped_index_probe", "lsh-cap-idx", 6, 1),
        // the first of q145's three micro-batches bulk-builds the index
        // (31 executions under the copy-on-write upsert)
        ("q145_stream_ingest_dedup", "lsh-cap-idx", 25, 2))) {
      val (_, r) = prof(name) {
        SparkEntry.queries(name)(spark, TestSpark.sf0001).count()
      }
      assert(r.sqlExecutions == execs, r.json)
      assert(TestSpark.margins(r, prefix) == Seq.fill(batches)(zero), r.json)
    }
  }

  test("q167's pair stats are an observation on its probe, not an extra action") {
    val (_, r) = prof("q167") {
      SparkEntry.queries("q167_incremental_curation")(spark, TestSpark.sf0001)
        .count()
    }
    assert(r.sqlExecutions == 8, r.json)
    assert(r.json.endsWith(
      ""","observed":{"q167":[{"nearDupPairs":2,"minJ":0.9808}]}}"""), r.json)
  }

  test("a third consecutive ingestBatch compiles no more than a handful of classes") {
    import org.apache.spark.sql.functions.col
    // the slices are staged as files, as a drain's micro-batches are, so
    // consecutive batches plan the same operators over different files;
    // with Spark's default 100-entry class cache one ingestBatch (about 77
    // classes) evicted its own classes and every batch recompiled them
    val base = java.nio.file.Files.createTempDirectory("ingest_codegen")
    val idx = base.resolve("idx").toString
    try {
      val docs = Tables.documents(spark, TestSpark.sf0001)
        .select(col("doc_id"), col("text"))
      val slices = (0 until 4).map { i =>
        val dir = base.resolve(s"slice$i").toString
        docs.filter(col("doc_id") % 4 === i).coalesce(1).write.parquet(dir)
        spark.read.parquet(dir)
      }
      val records = slices.zipWithIndex.map { case (b, i) =>
        prof(s"ingest$i")(graft.operators.DedupIndex.ingestBatch(
          spark, idx, b).count())._2
      }
      // the first upsert compiles its plan shapes (25 classes at sf0.001);
      // the default cache recompiled 61-77 per batch
      assert(records(3).codegen.classes <= 10, records.map(_.json))
    } finally TempDirs.rmTree(base)
  }

  test("an index read over 64 buckets runs no partition-listing job") {
    import org.apache.spark.sql.functions.col
    // a table with more partition directories than
    // parallelPartitionDiscovery.threshold is listed by a Spark job of one
    // task per directory; the session raises it above the bucket geometry
    val base = java.nio.file.Files.createTempDirectory("fts_listing")
    val dir = base.resolve("idx").toString
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    try {
      // 2,000 distinct words fill every one of the 64 term buckets
      val docs = spark.range(2000).select(col("id").as("doc_id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("w"), col("id")).as("text"))
      graft.operators.Fts.writePostingsIndex(
        graft.operators.Fts.positionalPostings(docs, "doc_id", "text"), dir)
      assert(new java.io.File(dir).list().count(_.startsWith("wb=")) == 64)
      def load() = prof("load")(graft.operators.Fts.loadPostings(spark, dir,
        Seq("table", "join", "scan")))._2.jobs
      val configured = load()
      val prev = spark.conf.get(key)
      spark.conf.set(key, "32")
      val distributed = try load() finally spark.conf.set(key, prev)
      assert(prev.toInt >= 64 && configured == distributed - 1,
        s"jobs: $configured at threshold $prev, $distributed at 32")
    } finally TempDirs.rmTree(base)
  }
}
