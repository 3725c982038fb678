package graft

import graft.operators.{BucketedIndex, DedupIndex, LshIndex,
  PartitionedIndexOps, Similarity}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent writers on the persisted indexes. Every write claims a
  * version by creating `claims/<v>` exclusively and publishes it by
  * creating `commits/<v>` exclusively, in version order: two attempts
  * never share a version, two writers never commit one version, and a
  * writer overtaken by a newer commit aborts before publishing. These
  * specs drive the loser's schedule through the shared primitives (a
  * mid-call interleave can't be injected into a single-JVM API call
  * without production hooks), race real threads on the compare-and-swap,
  * and assert the REAL upserts integrate the protocol: each completed
  * write commits exactly one new version, and an overtaken writer's retry
  * converges to the serial application.
  */
class ConcurrentWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val e = Tables.embeddings(spark, TestSpark.sf0001).cache()
  private lazy val planes = Similarity.hyperplanes(64, 6)

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpMeta(tag: String) =
    new Path(java.nio.file.Files.createTempDirectory(tag).toString, "_meta")

  private def latest(meta: Path) =
    PartitionedIndexOps.committedVersions(fs, meta).lastOption.getOrElse(0L)

  /** Runs `n` bodies on `n` threads released at the same instant. */
  private def race[T](n: Int)(body: Int => T): Seq[scala.util.Try[T]] = {
    val go = new java.util.concurrent.CountDownLatch(1)
    val out = Array.fill[scala.util.Try[T]](n)(null)
    val threads = (0 until n).map { i =>
      new Thread(() => { go.await(); out(i) = scala.util.Try(body(i)) })
    }
    threads.foreach(_.start()); go.countDown(); threads.foreach(_.join())
    out.toSeq
  }

  test("claim/require primitives: monotonic claims, stale claim fails fast") {
    val meta = tmpMeta("wv")
    assert(PartitionedIndexOps.committedVersions(fs, meta).isEmpty)
    val a = PartitionedIndexOps.claimVersion(fs, meta)
    assert(a == 1L)
    val b = PartitionedIndexOps.claimVersion(fs, meta)
    assert(b == 2L)
    PartitionedIndexOps.commitVersion(fs, meta, b, "writer B")
    // A's commit after B published a newer version: must abort, and the
    // message names the conflict
    val ex = intercept[IllegalArgumentException] {
      PartitionedIndexOps.commitVersion(fs, meta, a, "writer A")
    }
    assert(ex.getMessage.contains("concurrent writer"))
    assert(PartitionedIndexOps.committedVersions(fs, meta) == Seq(2L))
    // A's retry claims past every claim, committed or not
    val retry = PartitionedIndexOps.claimVersion(fs, meta)
    assert(retry == 3L)
    PartitionedIndexOps.commitVersion(fs, meta, retry, "writer A retry")
    assert(PartitionedIndexOps.committedVersions(fs, meta) == Seq(2L, 3L))
  }

  test("simultaneous claim of the same version: at most one writer validates") {
    // the hole a read-then-write counter leaves open: writers that read
    // the same latest version would all claim the next one. Claims are
    // exclusive creates, so eight racing claimers get eight versions…
    val meta = tmpMeta("wv2")
    val claims = race(8)(_ => PartitionedIndexOps.claimVersion(fs, meta))
    assert(claims.forall(_.isSuccess), claims)
    assert(claims.map(_.get).sorted == (1L to 8L), claims)
    // …and eight writers racing to commit ONE version: exactly one wins,
    // every other attempt fails naming the version
    val commits = race(8)(i =>
      PartitionedIndexOps.commitVersion(fs, meta, 5L, s"writer $i"))
    assert(commits.count(_.isSuccess) == 1, commits)
    assert(commits.filter(_.isFailure).forall(_.failed.get.getMessage
      .contains("already committed")), commits)
    assert(PartitionedIndexOps.committedVersions(fs, meta) == Seq(5L))
  }

  test("a copy-on-write index fails loudly on its missing layout key") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_legacy_layout")
      .resolve("idx").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    LshIndex.writeLshIndex(evens, "embedding", "vec_id", planes, dir)
    val pin = new Path(dir + "_meta/config")
    val built = BucketedIndex.readConfigPin(fs, pin).get
    val batch = e.filter(col("vec_id") === 1L)
      .select(col("vec_id"), col("embedding"))
    val q = e.select(col("embedding")).head.getSeq[Float](0).toArray
    // the copy-on-write protocol wrote no layout line; the first
    // merge-on-read protocol wrote `merge-on-read-1` beside keys that
    // routed nothing. Both must be rebuilt, and both refusals name layout.
    for ((stored, named) <- Seq(
        (built - "layout") ->
          Seq("layout=<absent> on disk", "without the layout key"),
        (built + ("layout" -> "merge-on-read-1")) ->
          Seq("layout=merge-on-read-1 on disk"))) {
      BucketedIndex.writeConfigPin(fs, pin, stored)
      val up = intercept[IllegalArgumentException] {
        LshIndex.upsertLshIndex(batch, "embedding", "vec_id", planes, dir)
      }
      val probe = intercept[IllegalArgumentException] {
        LshIndex.probeLshIndex(spark, dir, "embedding", "vec_id", q, 5,
          planes)
      }
      for (ex <- Seq(up, probe); s <- named)
        assert(ex.getMessage.contains(s), ex.getMessage)
    }
  }

  test("dedup index: overtaken writer fails fast; index equals the winner's serial application") {
    val dir = java.nio.file.Files.createTempDirectory("dedup_conc")
      .resolve("idx").toString
    val meta = new Path(dir + "/_meta")
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    DedupIndex.writeSignatureIndex(docs.filter(col("doc_id") % 5 < 3), dir)
    assert(latest(meta) == 1L, "bulk build should have committed version 1")
    // writer A enters (claims) but stalls before any write; writer B then
    // runs a complete real upsert
    val claimedA = PartitionedIndexOps.claimVersion(fs, meta)
    DedupIndex.upsertSignatureIndex(docs.filter(col("doc_id") % 5 === 3), dir)
    assert(latest(meta) == claimedA + 1,
      "a completed upsert must commit exactly one newer version")
    // A resumes at its commit point: the protocol must abort it
    val ex = intercept[IllegalArgumentException] {
      PartitionedIndexOps.commitVersion(fs, meta, claimedA,
        "dedup index upsert (writer A)")
    }
    assert(ex.getMessage.contains("concurrent writer"))
    // the index equals the serial winner-only application: probing it
    // matches a from-scratch build over the same final corpus
    val scratch = java.nio.file.Files.createTempDirectory("dedup_serial")
      .resolve("idx").toString
    DedupIndex.writeSignatureIndex(docs.filter(col("doc_id") % 5 < 4), scratch)
    val batch = docs.filter(col("doc_id") % 5 === 4)
    def probe(p: String) = DedupIndex.probeIndex(spark, p, batch)
      .collect().map(_.toSeq).toSet
    assert(probe(dir) == probe(scratch))
    // and A's RETRY (the documented healing) converges to serial A-after-B
    DedupIndex.upsertSignatureIndex(docs.filter(col("doc_id") % 5 === 3), dir)
    assert(probe(dir) == probe(scratch))
  }

  test("LSH index: upsert and bulk build both advance the version; stale claim aborts") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_conc")
      .resolve("idx").toString
    val meta = new Path(dir + "_meta")
    val evens = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    LshIndex.writeLshIndex(evens, "embedding", "vec_id", planes, dir)
    assert(latest(meta) == 1L)
    val claimedA = PartitionedIndexOps.claimVersion(fs, meta)
    LshIndex.upsertLshIndex(
      e.filter(col("vec_id") % 2 === 1).select(col("vec_id"), col("embedding")),
      "embedding", "vec_id", planes, dir)
    assert(latest(meta) == claimedA + 1)
    val ex = intercept[IllegalArgumentException] {
      PartitionedIndexOps.commitVersion(fs, meta, claimedA,
        "LSH index upsert (writer A)")
    }
    assert(ex.getMessage.contains("concurrent writer"))
    // versions survive (sibling _meta) and keep advancing across a bulk
    // REBUILD that wipes the data dir
    LshIndex.writeLshIndex(evens, "embedding", "vec_id", planes, dir)
    assert(latest(meta) == claimedA + 2)
  }
}
