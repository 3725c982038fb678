package graft

import graft.operators.{Dedup, DedupIndex, Fts, IvfPq, LshIndex, Pq, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** An EMPTY batch upsert must leave every persisted index bit-identical,
  * claiming no version —
  * foreachBatch routinely delivers empty micro-batches (trigger fired, no
  * new files), and each index's documented ingest loop (q145/q154/q160)
  * would hit this on every idle tick. Also pins the empty-batch behavior
  * of the probe paths the loops share. */
class EmptyBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val e = Tables.embeddings(spark, TestSpark.sf0001).cache()
  private lazy val docs = Tables.documents(spark, TestSpark.sf0001)
    .select(col("doc_id"), col("text"))

  private def dir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).resolve("idx").toString

  /** The stored rows of `path` (no version), as an unchanged directory
    * would hold them. */
  private def snapshot(path: String, cols: Seq[String]): Set[String] =
    spark.read.parquet(path)
      .select(cols.map(c => col(c).cast("string")): _*)
      .collect().map(_.mkString("|")).toSet

  private def claims(meta: String): Int =
    Option(new java.io.File(meta, "claims").list()).fold(0)(_.length)

  test("lsh index: empty upsert is a no-op") {
    val planes = Similarity.hyperplanes(64, 6)
    val idx = dir("empty_lsh")
    LshIndex.writeLshIndex(e, "embedding", "vec_id", planes, idx)
    val before = snapshot(idx, Seq("vec_id", "bucket", "_v"))
    LshIndex.upsertLshIndex(e.filter(lit(false)), "embedding", "vec_id",
      planes, idx)
    assert(snapshot(idx, Seq("vec_id", "bucket", "_v")) == before)
    assert(claims(idx + "_meta") == 1)
  }

  test("multi-table lsh index: empty upsert is a no-op") {
    val planeSets = (0 until 3).map(t =>
      Similarity.hyperplanes(64, 3, seed = 42L + t))
    val idx = dir("empty_mlsh")
    LshIndex.writeMultiLshIndex(e.select(col("vec_id"), col("embedding")),
      "embedding", "vec_id", planeSets, idx)
    val before = snapshot(idx, Seq("vec_id", "tbl", "bucket", "_v"))
    LshIndex.upsertMultiLshIndex(
      e.filter(lit(false)).select(col("vec_id"), col("embedding")),
      "embedding", "vec_id", planeSets, idx)
    assert(snapshot(idx, Seq("vec_id", "tbl", "bucket", "_v")) == before)
    assert(claims(idx + "_meta") == 1)
  }

  test("ivf index: empty upsert is a no-op") {
    val cents = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 2)
    val idx = dir("empty_ivf")
    Similarity.writeIvfIndex(e, "embedding", "vec_id", cents, idx)
    val before = snapshot(idx, Seq("vec_id", "list_id"))
    Similarity.upsertIvfIndex(e.filter(lit(false)), "embedding", "vec_id",
      cents, idx)
    assert(snapshot(idx, Seq("vec_id", "list_id")) == before)
    assert(claims(idx + "_meta") == 1)
  }

  test("ivf-pq index: empty upsert is a no-op") {
    val cents = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 2)
    val books = Pq.trainCodebooks(e, "embedding", "vec_id", m = 8, k = 16)
    val idx = dir("empty_ivfpq")
    IvfPq.writeIvfPqIndex(e, "embedding", "vec_id", cents, books, idx)
    val before = snapshot(idx, Seq("vec_id", "list_id"))
    val ref = snapshot(idx + "_refine", Seq("vec_id", "list_id", "dbk"))
    IvfPq.upsertIvfPqIndex(e.filter(lit(false)), "embedding", "vec_id",
      cents, books, idx)
    assert(snapshot(idx, Seq("vec_id", "list_id")) == before)
    assert(snapshot(idx + "_refine", Seq("vec_id", "list_id", "dbk")) == ref)
    assert(claims(idx + "_meta") == 1)
  }

  test("fts postings index: empty upsert is a no-op") {
    val idx = dir("empty_fts")
    Fts.writePostingsIndex(
      Fts.positionalPostings(docs, "doc_id", "text"), idx,
      nBuckets = 16)
    val before = snapshot(idx, Seq("word", "doc_id", "tf"))
    Fts.upsertPostingsIndex(docs.filter(lit(false)), idx, "doc_id", "text",
      nBuckets = 16)
    assert(snapshot(idx, Seq("word", "doc_id", "tf")) == before)
    assert(claims(idx + "_meta") == 1)
  }

  test("dedup signature index: empty upsert is a no-op; empty probe finds nothing") {
    val idx = dir("empty_dedup")
    DedupIndex.writeSignatureIndex(docs, idx)
    val bands = snapshot(idx + "/bands", Seq("doc_id", "band", "bh"))
    DedupIndex.upsertSignatureIndex(docs.filter(lit(false)), idx)
    assert(snapshot(idx + "/bands", Seq("doc_id", "band", "bh")) == bands)
    assert(claims(idx + "/_meta") == 1)
    val pairs = DedupIndex.probeIndex(spark, idx, docs.filter(lit(false)))
    assert(pairs.count() == 0)
    // the capped probe's stats/collapse branch must survive an empty
    // batch too (zero hit buckets -> empty corpus side -> zero-row margin)
    val capped = DedupIndex.probeIndexCapped(
      spark, idx, docs.filter(lit(false)))
    assert(capped.count() == 0)
  }

  test("empty anchor frame: batchProbe returns no candidates") {
    val planes = Similarity.hyperplanes(64, 6)
    val idx = dir("empty_anchors")
    LshIndex.writeLshIndex(e, "embedding", "vec_id", planes, idx)
    val anchors = e.filter(lit(false))
      .select(col("vec_id").as("aid"), col("embedding").as("ae"))
    assert(LshIndex.batchProbe(spark, idx, anchors, "ae", planes).count() == 0)
  }

  test("empty anchor frame: multi-table batchProbe returns no candidates and releases its cache") {
    val planeSets = (0 until 3).map(t =>
      Similarity.hyperplanes(64, 3, seed = 42L + t))
    val idx = dir("empty_manchors")
    LshIndex.writeMultiLshIndex(e.select(col("vec_id"), col("embedding")),
      "embedding", "vec_id", planeSets, idx)
    val anchors = e.filter(lit(false))
      .select(col("vec_id").as("aid"), col("embedding").as("ae"))
    val before = spark.sparkContext.getPersistentRDDs.size
    val handle = LshIndex.batchProbeMultiManaged(spark, idx, anchors, "ae",
      planeSets)
    assert(handle.result.count() == 0)
    handle.close()
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "probe cache leaked on the empty-anchor path")
  }
}
