package graft

import graft.operators.{DedupIndex, LshIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The managed probe variants must actually release the candidate caches
  * their bare siblings deliberately leave pinned — a long-lived serving
  * session is the consumer ([[graft.operators.ProbeHandle]]); the
  * assertion is on the session's persistent-RDD registry, so a leaked
  * cache fails the count, not just a doc promise. */
class ProbeHandleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val e = Tables.embeddings(spark, TestSpark.sf0001).cache()
  private lazy val docs = Tables.documents(spark, TestSpark.sf0001)
    .select(col("doc_id"), col("text"))

  private def pinnedCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("lsh batchProbeManaged releases its probe cache on close; close is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("ph_lsh")
      .resolve("idx").toString
    val planes = Similarity.hyperplanes(64, 6)
    LshIndex.writeLshIndex(e, "embedding", "vec_id", planes, dir)
    val anchors = e.orderBy(col("vec_id")).limit(3)
      .select(col("vec_id").as("aid"), col("embedding").as("ae"))
    val before = pinnedCount
    val handle = LshIndex.batchProbeManaged(spark, dir, anchors, "ae",
      planes, radius = 1)
    assert(handle.result.count() > 0)
    assert(pinnedCount > before, "probe cache never materialized")
    handle.close()
    assert(pinnedCount == before,
      "probe cache still pinned after close()")
    handle.close() // idempotent
    assert(pinnedCount == before)
  }

  test("capped pair builders: managed variants release every pinned cache; bare output identical") {
    import graft.operators.Dedup
    val before = pinnedCount
    // self-join family: one pinned frame (the shingles) — the facade
    // default for nearPairs
    val h = Dedup.minhashDupPairsCappedManaged(docs)
    val pairs = h.result.collect().map(_.toSeq).toSet
    assert(pinnedCount - before == 1, "self-join path pins exactly the shingles")
    h.close()
    assert(pinnedCount == before,
      "capped self-join caches still pinned after close()")
    // incremental family: two pinned frames (corpus and batch shingles)
    val h2 = Dedup.incrementalDupPairsCappedManaged(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    h2.result.count()
    assert(pinnedCount - before == 2,
      "incremental path pins exactly the two shingle frames")
    h2.close()
    assert(pinnedCount == before,
      "capped incremental caches still pinned after close()")
    // and the bare variant (which the oracle gate runs) returns the same
    // pairs as the managed one — same core, different ownership
    val bare = Dedup.minhashDupPairsCapped(docs).collect().map(_.toSeq).toSet
    assert(bare == pairs)
  }

  test("dedup probeIndexManaged releases both probe caches on close") {
    val dir = java.nio.file.Files.createTempDirectory("ph_dedup")
      .resolve("idx").toString
    DedupIndex.writeSignatureIndex(
      docs.filter(col("doc_id") % 2 === 0), dir)
    val before = pinnedCount
    val handle = DedupIndex.probeIndexManaged(spark, dir,
      docs.filter(col("doc_id") % 2 === 1))
    handle.result.count() // materialize (pair count may be 0; that's fine)
    assert(pinnedCount > before, "probe caches never materialized")
    handle.close()
    assert(pinnedCount == before,
      "probe caches still pinned after close()")
  }

  test("dupComponents releases its edge cache and every round's labels") {
    import spark.implicits._
    val before = pinnedCount
    // a 3-clique: one component, survivor 1
    val comps = graft.operators.Dedup.dupComponents(
      Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("da", "db"))
    assert(pinnedCount == before, "dupComponents left caches pinned")
    assert(comps.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 1L)))
    assert(pinnedCount == before, "reading the components pinned a cache")
  }
}
