package graft

import graft.operators.{BucketedIndex, DedupIndex, Fts, IvfPq, LshIndex,
  PartitionedIndexOps, Pq, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ONE parameterized lifecycle matrix over every persisted index family
  * ({dedup signatures, LSH, multi-table LSH, IVF, IVF-PQ, FTS postings}),
  * replacing the per-family copies of the shared invariants: a new
  * invariant added to [[IndexLifecycleSpec.families]]'s loop lands in all
  * six families at once.
  *
  * Matrix invariants (× every family), content always read through the
  * index's one reader ([[BucketedIndex.read]] / `readData`):
  *   1. writer guard + heal + re-crawl: a completed op commits exactly
  *      one newer version; an overtaken writer's commit aborts naming the
  *      conflict; the overtaken writer's documented recovery (retry the
  *      same batch) converges to the serial application — and the
  *      converged index is CONTENT-identical to a from-scratch bulk build
  *      over the final corpus (re-crawled rows replaced, not duplicated).
  *   2. compaction: folding fragmented partitions (maxFiles=1) rewrites
  *      at least one partition of the main table, shrinks the file count,
  *      and leaves the served CONTENT byte-identical.
  *   3. validate before claiming: a duplicate-id batch sent to the bulk
  *      build and to an upsert throws "duplicate" and leaves the claims,
  *      the commits and the served content unchanged.
  *   4. crash at any write step: an upsert stopped at each of its crash
  *      points in turn leaves the served content unchanged, and the
  *      same-batch retry converges to the scratch build.
  *   5. a probe of a never-built index fails by name, before any read.
  *
  * Family-SPECIFIC semantics (pruned-scan shapes, payload pins, vacated
  * buckets, recall) stay in the per-family specs; this matrix owns only
  * the invariants all six share. */
class IndexLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- shared corpora (sf0.001): A = initial, B = new ∪ re-crawled ----
  // re-crawl overlap: ids ≡ 0 (mod 5) appear in BOTH A and B with changed
  // content, so upsert==scratch only holds if the family truly REPLACES.
  private lazy val docs = Tables.documents(spark, TestSpark.sf0001)
    .select(col("doc_id"), col("text"))
    // multiple input partitions => multiple files per bucket dir on every
    // partitionBy write, so invariant 2's compaction has work to do
    .repartition(8).cache()
  private lazy val docsA = docs.filter(col("doc_id") % 5 < 3)
  private lazy val docsB = docs.filter(col("doc_id") % 5 === 3)
    .unionByName(docs.filter(col("doc_id") % 5 === 0)
      .withColumn("text", concat(col("text"), lit(" recrawled v2"))))
  private lazy val docsFinal = docs
    .filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    .unionByName(docsB)

  private lazy val vecs = Tables.embeddings(spark, TestSpark.sf0001)
    .select(col("vec_id"), col("embedding")).repartition(8).cache()
  private lazy val vecsA = vecs.filter(col("vec_id") % 5 < 3)
  private lazy val vecsB = vecs.filter(col("vec_id") % 5 === 3)
    .unionByName(vecs.filter(col("vec_id") % 5 === 0)
      .withColumn("embedding", reverse(col("embedding"))))
  private lazy val vecsFinal = vecs
    .filter(col("vec_id") % 5 === 1 || col("vec_id") % 5 === 2)
    .unionByName(vecsB)

  private lazy val planes = Similarity.hyperplanes(64, 6)
  private lazy val planeSets =
    Seq(Similarity.hyperplanes(64, 4), Similarity.hyperplanes(64, 4, seed = 7L))
  private lazy val cents =
    Similarity.ivfCentroids(vecs, "embedding", "vec_id", 8, 2)
  private lazy val books =
    Pq.trainCodebooks(vecs, "embedding", "vec_id", m = 8, k = 16)
  private val query = Array.fill(64)(1f)

  /** Everything the matrix needs to drive one family through the shared
    * lifecycle. `index` is the family's table layout; `probe` is one of
    * its probes; `checkedBuild` is the bulk build that owns the
    * duplicate-id check, when `build` does not. */
  private final case class Family(
      name: String,
      build: (DataFrame, String) => Unit,
      upsert: (DataFrame, String) => Unit,
      probe: String => Unit,
      corpusA: () => DataFrame,
      batchB: () => DataFrame,
      corpusFinal: () => DataFrame,
      index: String => BucketedIndex,
      checkedBuild: Option[(DataFrame, String) => Unit] = None)

  private def meta(f: Family, path: String) =
    new org.apache.hadoop.fs.Path(f.index(path).meta)

  private def commits(f: Family, path: String) =
    PartitionedIndexOps.committedVersions(fs, meta(f, path))

  private def claims(f: Family, path: String): Set[String] = {
    val d = new org.apache.hadoop.fs.Path(meta(f, path), "claims")
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).map(_.getPath.getName).toSet
  }

  /** Canonical served content of the index at `path`: the reader's rows
    * of the main and data tables, tagged by table, column order
    * normalized — layout-independent, so it is invariant under compaction
    * and equal across upsert-vs-scratch builds exactly when the logical
    * content matches. */
  private def content(f: Family, path: String): Set[String] = {
    val idx = f.index(path)
    (Seq("main" -> idx.read(spark)) ++
      idx.data.map(_ => "data" -> idx.readData(spark))).flatMap {
      case (tag, df) =>
        val cols = df.columns.sorted.toSeq
        df.select(cols.map(col): _*).collect().map(r => tag + "|" + r)
    }.toSet
  }

  private def tableDirs(f: Family, path: String): Seq[String] = {
    val idx = f.index(path)
    idx.main +: idx.data.map(_._1).toSeq
  }

  private def parquetFiles(dir: String): Int = {
    def walk(d: java.io.File): Int =
      if (!d.exists) 0
      else d.listFiles.map { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      }.sum
    walk(new java.io.File(dir))
  }

  private def compactAll(f: Family, path: String): Seq[Long] = {
    val idx = f.index(path)
    (if (idx.mainParts.length == 2)
      PartitionedIndexOps.compactMulti(spark, idx.main, idx.mainParts,
        maxFiles = 1, meta = Some(idx.meta)).map(_._2)
    else
      PartitionedIndexOps.compact(spark, idx.main, idx.mainParts.head,
        maxFiles = 1, meta = Some(idx.meta))) ++
      idx.data.toSeq.flatMap { case (dir, bucket) =>
        PartitionedIndexOps.compact(spark, dir, bucket, maxFiles = 1)
      }
  }

  private def tmp(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"lifecycle_$tag").resolve("idx").toString

  private lazy val families: Seq[Family] = Seq(
    Family("dedup-signature",
      build = (c, p) => DedupIndex.writeSignatureIndex(c, p),
      upsert = (b, p) => DedupIndex.upsertSignatureIndex(b, p),
      probe = p => DedupIndex.probeIndex(spark, p, docsB),
      corpusA = () => docsA, batchB = () => docsB,
      corpusFinal = () => docsFinal,
      index = DedupIndex.index),
    Family("lsh",
      build = (c, p) =>
        LshIndex.writeLshIndex(c, "embedding", "vec_id", planes, p),
      upsert = (b, p) =>
        LshIndex.upsertLshIndex(b, "embedding", "vec_id", planes, p),
      probe = p => LshIndex.probeLshIndex(spark, p, "embedding", "vec_id",
        query, 5, planes),
      corpusA = () => vecsA, batchB = () => vecsB,
      corpusFinal = () => vecsFinal,
      index = LshIndex.index),
    Family("multi-lsh",
      build = (c, p) =>
        LshIndex.writeMultiLshIndex(c, "embedding", "vec_id", planeSets, p),
      upsert = (b, p) =>
        LshIndex.upsertMultiLshIndex(b, "embedding", "vec_id", planeSets, p),
      probe = p => LshIndex.probeMultiLsh(spark, p, "embedding", "vec_id",
        query, 5, planeSets),
      corpusA = () => vecsA, batchB = () => vecsB,
      corpusFinal = () => vecsFinal,
      index = LshIndex.multiIndex),
    Family("ivf",
      build = (c, p) =>
        Similarity.writeIvfIndex(c, "embedding", "vec_id", cents, p),
      upsert = (b, p) =>
        Similarity.upsertIvfIndex(b, "embedding", "vec_id", cents, p),
      probe = p => Similarity.probeIvfIndex(spark, p, "embedding", "vec_id",
        query, 5, 0 until 2),
      corpusA = () => vecsA, batchB = () => vecsB,
      corpusFinal = () => vecsFinal,
      index = Similarity.ivfIndex),
    Family("ivf-pq",
      build = (c, p) =>
        IvfPq.writeIvfPqIndex(c, "embedding", "vec_id", cents, books, p),
      upsert = (b, p) =>
        IvfPq.upsertIvfPqIndex(b, "embedding", "vec_id", cents, books, p),
      probe = p => IvfPq.probeIvfPqIndex(spark, p, "embedding", "vec_id",
        query, 5, 0 until 2, books, rerank = 16),
      corpusA = () => vecsA, batchB = () => vecsB,
      corpusFinal = () => vecsFinal,
      index = IvfPq.index),
    Family("fts-postings",
      build = (c, p) => Fts.writePostingsIndex(
        Fts.positionalPostings(c, "doc_id", "text"), p, nBuckets = 8),
      upsert = (b, p) => Fts.upsertPostingsIndex(b, p, "doc_id", "text",
        nBuckets = 8),
      probe = p => Fts.loadPostings(spark, p, Seq("alpha"), nBuckets = 8),
      corpusA = () => docsA, batchB = () => docsB,
      corpusFinal = () => docsFinal,
      index = Fts.index,
      // writePostingsIndex takes postings, not docs: the facade's build
      // is the one keyed by doc id
      checkedBuild = Some((c, p) =>
        graft.api.Graft.index.buildFts(c, "doc_id", "text", p))))

  // ---- invariant 1: writer guard + heal + re-crawl == scratch ----
  for (f <- families)
    test(s"${f.name}: version guard aborts overtaken writer; retry " +
      "converges to the scratch build") {
      val dir = tmp(f.name.replace('-', '_'))
      f.build(f.corpusA(), dir)
      assert(commits(f, dir) == Seq(1L),
        s"${f.name}: bulk build must commit version 1")
      // writer A claims, then stalls; writer B completes a real upsert
      val stale = PartitionedIndexOps.claimVersion(fs, meta(f, dir))
      f.upsert(f.batchB(), dir)
      assert(commits(f, dir) == Seq(1L, stale + 1),
        s"${f.name}: a completed upsert must commit exactly one version")
      // A resumes at its commit point: the protocol must abort, naming the
      // conflict
      val ex = intercept[IllegalArgumentException] {
        PartitionedIndexOps.commitVersion(fs, meta(f, dir), stale,
          s"${f.name} upsert (writer A)")
      }
      assert(ex.getMessage.contains("concurrent writer"))
      // A's documented recovery — retry the SAME batch — converges (the
      // second application is idempotent), and the result is content-
      // identical to a from-scratch build over the final corpus: every
      // re-crawled id's old rows replaced, none duplicated
      f.upsert(f.batchB(), dir)
      val scratch = tmp(f.name.replace('-', '_') + "_scratch")
      f.build(f.corpusFinal(), scratch)
      assert(content(f, dir) == content(f, scratch),
        s"${f.name}: healed upsert result diverges from the scratch build")
    }

  // ---- invariant 2: compaction preserves content, shrinks files ----
  for (f <- families)
    test(s"${f.name}: compaction rewrites fragmented partitions without " +
      "changing content") {
      val dir = tmp(f.name.replace('-', '_') + "_compact")
      f.build(f.corpusA(), dir)
      f.upsert(f.batchB(), dir)
      val before = content(f, dir)
      val filesBefore = tableDirs(f, dir).map(parquetFiles).sum
      val rewrote = compactAll(f, dir)
      assert(rewrote.nonEmpty,
        s"${f.name}: an 8-input-partition build plus an upsert must leave " +
          "at least one partition fragmented past maxFiles=1")
      val filesAfter = tableDirs(f, dir).map(parquetFiles).sum
      assert(filesAfter < filesBefore,
        s"${f.name}: compaction must shrink the data-file count " +
          s"($filesBefore -> $filesAfter)")
      assert(content(f, dir) == before,
        s"${f.name}: compaction changed index content")
      // compaction is layout-only: a fresh probe epoch sees identical
      // content, so re-compacting is a no-op (idempotence)
      assert(compactAll(f, dir).isEmpty,
        s"${f.name}: re-compacting a just-compacted index must be a no-op")
    }

  // ---- invariant 3: validate before claiming ----
  for (f <- families)
    test(s"${f.name}: a duplicate-id batch is rejected before any claim " +
      "or write, in the bulk build and the upsert") {
      val dir = tmp(f.name.replace('-', '_') + "_dup")
      f.build(f.corpusA(), dir)
      val versions = (claims(f, dir), commits(f, dir))
      val before = content(f, dir)
      val b = f.batchB()
      val dup = b.unionByName(b.limit(1))
      for ((what, write) <- Seq(
          "bulk build" -> f.checkedBuild.getOrElse(f.build),
          "upsert" -> f.upsert)) {
        val ex = intercept[IllegalArgumentException](write(dup, dir))
        assert(ex.getMessage.contains("duplicate"),
          s"${f.name} $what: ${ex.getMessage}")
        assert((claims(f, dir), commits(f, dir)) == versions,
          s"${f.name} $what: a rejected batch claimed or committed a version")
        assert(content(f, dir) == before,
          s"${f.name} $what: a rejected batch changed index content")
      }
    }

  // ---- invariant 4: a crash at any write step changes nothing served ----
  for (f <- families)
    test(s"${f.name}: an upsert stopped at each write step changes nothing " +
      "served; the same-batch retry converges to the scratch build") {
      val dir = tmp(f.name.replace('-', '_') + "_crash")
      f.build(f.corpusA(), dir)
      val before = content(f, dir)
      val prefix = f.index(dir).name
      val points = Seq("claimed", "between-writes", "tombstoned", "staged")
      sys.props("graft.crashpoint.mode") = "throw"
      try points.foreach { p =>
        sys.props("graft.crashpoint") = s"$prefix.upsert.$p"
        val ex = intercept[IllegalStateException](f.upsert(f.batchB(), dir))
        assert(ex.getMessage == s"crash point $prefix.upsert.$p")
        if (p != "staged" || f.index(dir).data.isEmpty)
          assert(content(f, dir) == before,
            s"${f.name}: an upsert stopped at $p changed the served content")
      } finally {
        sys.props -= "graft.crashpoint"; sys.props -= "graft.crashpoint.mode"
      }
      assert(commits(f, dir) == Seq(1L), s"${f.name}: a crash committed")
      f.upsert(f.batchB(), dir)
      val scratch = tmp(f.name.replace('-', '_') + "_crash_scratch")
      f.build(f.corpusFinal(), scratch)
      assert(content(f, dir) == content(f, scratch),
        s"${f.name}: the retry after four crashed attempts diverges")
    }

  // ---- invariant 5: a never-built index fails by name ----
  for (f <- families)
    test(s"${f.name}: a probe of a never-built index fails by name") {
      val dir = tmp(f.name.replace('-', '_') + "_unbuilt")
      val ex = intercept[IllegalArgumentException](f.probe(dir))
      assert(ex.getMessage.contains("never built"),
        s"${f.name}: ${ex.getMessage}")
    }
}
