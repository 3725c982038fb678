package graft

import graft.operators.{DedupIndex, LshIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The managed probe variants must actually release the candidate caches
  * their bare siblings deliberately leave pinned — a long-lived serving
  * session is the consumer ([[graft.operators.ProbeHandle]]). The
  * assertions are on the frames the handle itself pins — each must be
  * materialized in the cache before `close()` and absent from it after —
  * and on the persistent RDDs the test ADDS to the session's registry
  * (ids not present before it started), never on the registry's size:
  * Spark's cleaner unpersists what earlier suites left asynchronously,
  * which moved a global count under this suite. */
class ProbeHandleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val e = Tables.embeddings(spark, TestSpark.sf0001).cache()
  private lazy val docs = Tables.documents(spark, TestSpark.sf0001)
    .select(col("doc_id"), col("text"))

  /** Persistent RDDs registered now that were not in `before`. */
  private def added(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before

  private def registered: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `df`'s cache is registered and its blocks were built. */
  private def materialized(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE &&
      df.queryExecution.withCachedData.collectFirst {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          m.cacheBuilder.isCachedColumnBuffersLoaded
      }.contains(true)

  private def released(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel == org.apache.spark.storage.StorageLevel.NONE

  test("lsh batchProbeManaged releases its probe cache on close; close is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("ph_lsh")
      .resolve("idx").toString
    val planes = Similarity.hyperplanes(64, 6)
    LshIndex.writeLshIndex(e, "embedding", "vec_id", planes, dir)
    val anchors = e.orderBy(col("vec_id")).limit(3)
      .select(col("vec_id").as("aid"), col("embedding").as("ae"))
    val before = registered
    val handle = LshIndex.batchProbeManaged(spark, dir, anchors, "ae",
      planes, radius = 1)
    assert(handle.result.count() > 0)
    assert(handle.pinned.size == 1 && handle.pinned.forall(materialized),
      "probe cache never materialized")
    assert(added(before).size == 1, "the probe pinned more than its cache")
    handle.close()
    assert(handle.pinned.forall(released) && added(before).isEmpty,
      "probe cache still pinned after close()")
    handle.close() // idempotent
    assert(handle.pinned.forall(released) && added(before).isEmpty)
  }

  test("capped pair builders: managed variants release every pinned cache; bare output identical") {
    import graft.operators.Dedup
    val before = registered
    // self-join family: one pinned frame (the shingles) — the facade
    // default for nearPairs
    val h = Dedup.minhashDupPairsCappedManaged(docs)
    val pairs = h.result.collect().map(_.toSeq).toSet
    assert(h.pinned.size == 1 && h.pinned.forall(materialized) &&
      added(before).size == 1, "self-join path pins exactly the shingles")
    h.close()
    assert(h.pinned.forall(released) && added(before).isEmpty,
      "capped self-join caches still pinned after close()")
    // incremental family: two pinned frames (corpus and batch shingles)
    val h2 = Dedup.incrementalDupPairsCappedManaged(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    h2.result.count()
    assert(h2.pinned.size == 2 && h2.pinned.forall(materialized) &&
      added(before).size == 2,
      "incremental path pins exactly the two shingle frames")
    h2.close()
    assert(h2.pinned.forall(released) && added(before).isEmpty,
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
    val before = registered
    val handle = DedupIndex.probeIndexManaged(spark, dir,
      docs.filter(col("doc_id") % 2 === 1))
    handle.result.count() // materialize (pair count may be 0; that's fine)
    assert(handle.pinned.size == 2 && handle.pinned.forall(materialized) &&
      added(before).size == 2, "probe caches never materialized")
    handle.close()
    assert(handle.pinned.forall(released) && added(before).isEmpty,
      "probe caches still pinned after close()")
  }

  test("dupComponents releases its edge cache and every round's labels") {
    import spark.implicits._
    val before = registered
    // a 3-clique: one component, survivor 1
    val comps = graft.operators.Dedup.dupComponents(
      Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("da", "db"))
    assert(added(before).isEmpty, "dupComponents left caches pinned")
    assert(comps.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 1L)))
    assert(added(before).isEmpty, "reading the components pinned a cache")
  }
}
