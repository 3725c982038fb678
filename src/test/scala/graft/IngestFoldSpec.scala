package graft

import graft.operators.{DedupIndex, PartitionedIndexOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused gates for the r13 per-micro-batch job-count reductions (the
  * streaming-drain fixed cost, r12 verdict #4):
  *
  *   - the fused validate+bucket-collect helper must return exactly the
  *     bucket set the two jobs it replaced produced, and keep
  *     [[PartitionedIndexOps.requireUniqueIds]]'s loud-reject contract;
  *   - [[DedupIndex.ingestBatch]]'s shared-bands path (one minhash/
  *     banding pass per micro-batch serving both probe and upsert) must
  *     leave pairs AND post-upsert index state identical to the unshared
  *     probe-then-upsert composition it replaced.
  */
class IngestFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("requireUniqueIdsCollectingBuckets = requireUniqueIds + bucket collect, one job") {
    val df = Seq((1L, "a"), (2L, "b"), (17L, "c"), (33L, "d"))
      .toDF("doc_id", "text")
    val got = PartitionedIndexOps.requireUniqueIdsCollectingBuckets(
      df, "doc_id", pmod(col("doc_id"), lit(16L))).sorted
    assert(got == Seq(1L, 2L))
    val dup = Seq((1L, "a"), (1L, "b")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      PartitionedIndexOps.requireUniqueIdsCollectingBuckets(
        dup, "doc_id", pmod(col("doc_id"), lit(16L)))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("ingestBatch rejects a duplicate-id batch before any index mutation") {
    // r13 fused batch-stats job: validation moved from the upsert (which
    // ran AFTER the probe) to the very first per-batch action — a
    // duplicate batch must still throw requireUniqueIds' exception, and
    // the index must be untouched
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val idx = java.nio.file.Files.createTempDirectory("ingest_dup")
      .resolve("idx").toString
    DedupIndex.writeSignatureIndex(corpus, idx)
    def bands() = spark.read.parquet(idx + "/bands")
      .select(col("doc_id"), col("band"), col("bh"))
      .collect().map(_.toSeq).toSet
    val before = bands()
    val batch = docs.filter(col("doc_id") % 3 === 1).limit(50)
    val dup = batch.unionByName(batch.limit(1))
    val e = intercept[IllegalArgumentException] {
      DedupIndex.ingestBatch(spark, idx, dup)
    }
    assert(e.getMessage.contains("duplicate"))
    assert(bands() == before, "duplicate batch mutated the index")
  }

  test("capped probe margin is observed by its candidate job at construction") {
    // the lsh-cap-idx margin rides the candidate-bucket collect the probe
    // runs while it is built, so it is observed before any caller action
    val prefix = (1 to 14).map(i => s"w$i").mkString(" ")
    val corpus = (0 until 30).map(i => (i.toLong, s"$prefix tail$i"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("ingest_margin")
      .resolve("idx").toString
    DedupIndex.writeSignatureIndex(corpus, idx)
    val batch = (100 until 105).map(i => (i.toLong, s"$prefix tail$i"))
      .toDF("doc_id", "text")
    val prof = new obs.Profile(spark)
    val (h, r) = try prof("probe")(DedupIndex.probeIndexCappedManaged(
        spark, idx, batch, maxBucket = 4))
      finally prof.close()
    try {
      assert(TestSpark.margins(r, "lsh-cap-idx") ==
        Seq(TestSpark.hotFixtureMargin), r.json)
    } finally h.close()
  }

  test("ingestBatch shared-bands path == unshared probe-then-upsert") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 3 === 1)
      // plant near-dups of corpus docs so the probe has real pairs
      .unionByName(corpus.limit(20)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text")))

    val base = java.nio.file.Files.createTempDirectory("ingest_fold")
    val idxA = base.resolve("shared").toString // ingestBatch (r13 path)
    val idxB = base.resolve("composed").toString // probe + upsert (r12 path)
    DedupIndex.writeSignatureIndex(corpus, idxA)
    DedupIndex.writeSignatureIndex(corpus, idxB)

    val pairsShared = DedupIndex.ingestBatch(spark, idxA, batch)
      .collect().map(_.toSeq).toSet
    val h = DedupIndex.probeIndexCappedManaged(spark, idxB, batch)
    val pairsComposed = h.result.collect().map(_.toSeq).toSet
    h.close()
    DedupIndex.upsertSignatureIndex(batch, idxB)
    assert(pairsShared == pairsComposed,
      "shared-bands probe pairs diverged from the unshared probe")
    assert(pairsShared.nonEmpty, "fixture produced no near-dup pairs")

    // post-upsert state: both indexes must answer a fresh probe equally
    val probe = docs.filter(col("doc_id") % 3 === 2).limit(200)
    val a = DedupIndex.probeIndex(spark, idxA, probe)
      .collect().map(_.toSeq).toSet
    val b = DedupIndex.probeIndex(spark, idxB, probe)
      .collect().map(_.toSeq).toSet
    assert(a == b, "post-upsert index state diverged between the paths")
  }
}
