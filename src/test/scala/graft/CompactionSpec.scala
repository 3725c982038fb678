package graft

import graft.operators.{Fts, PartitionedIndexOps, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Index compaction: fragmented partitions (one file per writing task —
  * the shape a many-partition bulk build or a long ingest loop of
  * merge-on-read deltas leaves) fold to one file each, serving identical
  * content, pins untouched; a pass that folds every partition also folds
  * the tombstones away. */
class CompactionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def parquetFiles(dir: String): Map[String, Int] = {
    val root = new java.io.File(dir)
    root.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
  }

  test("fts index: compact rewrites only fragmented buckets, queries unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("compact_fts")
      .resolve("idx").toString
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta"), (3L, "beta gamma"),
      (4L, "alpha gamma delta"), (5L, "delta beta alpha"), (6L, "gamma alpha"))
      .toDF("doc_id", "text")
      .repartition(6) // one file per task per hit bucket — the fragmented shape
    Fts.writePostingsIndex(
      Fts.positionalPostings(docs, "doc_id", "text"), dir,
      nBuckets = 2)
    val before = parquetFiles(dir)
    assert(before.values.exists(_ > 2), s"expected fragmentation, got $before")
    val resultsBefore = Fts.conjunctiveQuery(
      Fts.loadPostings(spark, dir, Seq("alpha", "beta"), nBuckets = 2),
      Seq("alpha", "beta")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // the rewrite read must prune at the file index — compacting a few hot
    // buckets cannot scan the rest of the index at scale
    val slicePlan = PartitionedIndexOps
      .compactionSlice(spark, dir, "wb", Seq(0L), dir + "_meta")
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*wb".r.findFirstIn(slicePlan).isDefined,
      s"expected wb partition pruning in plan:\n$slicePlan")

    val rewritten = PartitionedIndexOps.compact(spark, dir, "wb", maxFiles = 2)
    assert(rewritten.nonEmpty)
    val after = parquetFiles(dir)
    rewritten.foreach(b => assert(after(s"wb=$b") == 1,
      s"bucket $b not compacted: $after"))
    // under-threshold buckets untouched
    before.filter(_._2 <= 2).foreach { case (d, n) => assert(after(d) == n) }

    val resultsAfter = Fts.conjunctiveQuery(
      Fts.loadPostings(spark, dir, Seq("alpha", "beta"), nBuckets = 2),
      Seq("alpha", "beta")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resultsAfter == resultsBefore)

    // the index stays maintainable: pin intact, upserts still merge
    Fts.upsertPostingsIndex(Seq((7L, "alpha epsilon")).toDF("doc_id", "text"),
      dir, "doc_id", "text", nBuckets = 2)
    assert(Fts.conjunctiveQuery(
      Fts.loadPostings(spark, dir, Seq("epsilon"), nBuckets = 2),
      Seq("epsilon")).count() == 1)
  }

  test("ivf index: compacted lists probe identically") {
    val dir = java.nio.file.Files.createTempDirectory("compact_ivf")
      .resolve("idx").toString
    val vecs = (0L until 40L)
      .map(i => (i, Array.tabulate(4)(j => (((i + j) % 7).toFloat + 1f))))
      .toDF("vec_id", "embedding")
      .repartition(8)
    val cents = Similarity.ivfCentroids(vecs, "embedding", "vec_id", 4, 2)
    Similarity.writeIvfIndex(vecs, "embedding", "vec_id", cents, dir)
    val q = Array.tabulate(4)(_.toFloat + 1f)
    val pre = Similarity.probeIvfIndex(spark, dir, "embedding", "vec_id",
      q, 10, 0 until 4).collect().map(r => (r.getLong(0), r.getDouble(1)))

    val rewritten = PartitionedIndexOps.compact(spark, dir, "list_id",
      maxFiles = 1)
    assert(rewritten.nonEmpty)
    rewritten.foreach(l => assert(parquetFiles(dir)(s"list_id=$l") == 1))
    val post = Similarity.probeIvfIndex(spark, dir, "embedding", "vec_id",
      q, 10, 0 until 4).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(post.toSeq == pre.toSeq)
    Similarity.upsertIvfIndex(
      Seq((100L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", cents, dir)
  }

  test("ivf-pq index: compacted codes + refine tables probe identically") {
    import graft.operators.{IvfPq, Pq}
    val dir = java.nio.file.Files.createTempDirectory("compact_ivfpq")
      .resolve("idx").toString
    val vecs = (0L until 40L)
      .map(i => (i, Array.tabulate(4)(j => (((i + j) % 7).toFloat + 1f))))
      .toDF("vec_id", "embedding")
      .repartition(8)
    val cents = Similarity.ivfCentroids(vecs, "embedding", "vec_id", 4, 2)
    val books = Pq.trainCodebooks(vecs, "embedding", "vec_id", m = 2, k = 4)
    IvfPq.writeIvfPqIndex(vecs, "embedding", "vec_id", cents, books, dir,
      nDocBuckets = 2)
    // a second crawl fragments both tables (one more file per hit bucket)
    IvfPq.upsertIvfPqIndex(
      vecs.filter(col("vec_id") < 10L), "embedding", "vec_id", cents,
      books, dir, nDocBuckets = 2)
    val q = Array.tabulate(4)(_.toFloat + 1f)
    def probe() = IvfPq.probeIvfPqIndex(spark, dir, "embedding", "vec_id",
        q, 10, 0 until 4, books, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pre = probe()
    // the upsert left deltas beside the build's files and 10 tombstones
    val tombs = new java.io.File(dir + "_meta/tombstones")
    assert(tombs.exists && parquetFiles(dir).values.exists(_ > 1))
    val rc = PartitionedIndexOps.compact(spark, dir, "list_id", maxFiles = 0)
    assert(rc.nonEmpty)
    PartitionedIndexOps.compact(spark, dir + "_refine", "dbk", maxFiles = 0)
    // folded: one file per partition, every stored row served, and no
    // tombstone left (the pass folded every partition)
    assert(parquetFiles(dir).values.forall(_ == 1), parquetFiles(dir))
    assert(parquetFiles(dir + "_refine").values.forall(_ == 1))
    assert(!tombs.exists, "tombstones survived a full fold")
    assert(spark.read.parquet(dir).count() == 40)
    assert(probe() == pre)
    // and a post-compaction upsert still merges cleanly
    IvfPq.upsertIvfPqIndex(
      Seq((100L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", cents, books, dir, nDocBuckets = 2)
    assert(IvfPq.index(dir).read(spark).count() == 41)
  }

  test("compact on a missing or un-fragmented index is a no-op") {
    assert(PartitionedIndexOps.compact(spark, "/tmp/graft_no_such_idx",
      "wb").isEmpty)
    assert(PartitionedIndexOps.compactMulti(spark, "/tmp/graft_no_such_idx",
      Seq("tbl", "bucket")).isEmpty)
  }

  test("multi-table lsh index: compactMulti rewrites only fragmented pairs, content unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("compact_mlsh")
      .resolve("idx").toString
    val planeSets = (0 until 2).map(t =>
      graft.operators.Similarity.hyperplanes(64, 2, seed = 500L + t))
    // a multi-partition source writes one file per task per hit pair —
    // the fragmented shape a bulk build leaves
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding")).repartition(6)
    graft.operators.LshIndex.writeMultiLshIndex(e, "embedding", "vec_id",
      planeSets, dir)
    def pairFiles(): Map[(String, String), Int] = {
      val root = new java.io.File(dir)
      (for {
        outer <- root.listFiles().toSeq
        if outer.isDirectory && outer.getName.startsWith("tbl=")
        inner <- outer.listFiles().toSeq
        if inner.isDirectory && inner.getName.startsWith("bucket=")
      } yield (outer.getName, inner.getName) ->
        inner.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val before = pairFiles()
    assert(before.values.exists(_ > 2), s"expected fragmentation: $before")
    def content() = graft.operators.LshIndex.multiIndex(dir).read(spark)
      .select(col("vec_id"), col("tbl").cast("long"),
        col("bucket").cast("long"), col("embedding").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val pre = content()
    val rewritten = PartitionedIndexOps.compactMulti(spark, dir,
      Seq("tbl", "bucket"), maxFiles = 2)
    assert(rewritten.nonEmpty)
    val after = pairFiles()
    rewritten.foreach { case (t, b) =>
      assert(after((s"tbl=$t", s"bucket=$b")) == 1,
        s"pair ($t,$b) not compacted: $after")
    }
    // under-threshold pairs untouched
    before.filter(_._2 <= 2).foreach { case (p, n) => assert(after(p) == n) }
    assert(content() == pre)
    // the index stays maintainable after compaction
    graft.operators.LshIndex.upsertMultiLshIndex(
      e.filter(col("vec_id") < 5), "embedding", "vec_id", planeSets, dir)
    assert(graft.operators.LshIndex.multiIndex(dir).read(spark).count() ==
      Tables.embeddings(spark, TestSpark.sf0001).count() * 2)
  }
}
