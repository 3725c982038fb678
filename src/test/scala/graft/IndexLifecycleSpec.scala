package graft

import graft.operators.{Dedup, DedupIndex, Fts, IvfPq, LshIndex,
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
  * Matrix invariants (× every family):
  *   1. writer guard + heal + re-crawl: a completed op advances the
  *      version by exactly one; an overtaken writer's stale claim aborts
  *      naming the conflict; the overtaken writer's documented recovery
  *      (retry the same batch) converges to the serial application — and
  *      the converged index is CONTENT-identical to a from-scratch bulk
  *      build over the final corpus (re-crawled rows replaced, not
  *      duplicated).
  *   2. compaction: compacting fragmented partitions (maxFiles=1) rewrites
  *      at least one partition of the main table, never increases the
  *      file count, and leaves every table's CONTENT byte-identical.
  *   3. validate before claiming: a duplicate-id batch sent to the bulk
  *      build and to an upsert throws "duplicate" and leaves the version
  *      pin and every table's content unchanged.
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

  /** Everything the matrix needs to drive one family through the shared
    * lifecycle. `tables` lists (path-suffix, partCols) of every persisted
    * table; content equality reads them all. `checkedBuild` is the bulk
    * build that owns the duplicate-id check, when `build` does not. */
  private final case class Family(
      name: String,
      build: (DataFrame, String) => Unit,
      upsert: (DataFrame, String) => Unit,
      corpusA: () => DataFrame,
      batchB: () => DataFrame,
      corpusFinal: () => DataFrame,
      tables: Seq[(String, Seq[String])],
      versionPath: String => org.apache.hadoop.fs.Path,
      checkedBuild: Option[(DataFrame, String) => Unit] = None)

  /** Canonical content of every table of the index at `path`: row strings
    * tagged by table, column order normalized — layout-independent, so it
    * is invariant under compaction and equal across upsert-vs-scratch
    * builds exactly when the logical content matches. */
  private def content(f: Family, path: String): Set[String] =
    f.tables.flatMap { case (suffix, _) =>
      val df = spark.read.parquet(path + suffix)
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect()
        .map(r => suffix + "|" + r.toString)
    }.toSet

  private def parquetFiles(dir: String): Int = {
    def walk(d: java.io.File): Int =
      if (!d.exists) 0
      else d.listFiles.map { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      }.sum
    walk(new java.io.File(dir))
  }

  private def compactAll(f: Family, path: String): Seq[Long] =
    f.tables.flatMap { case (suffix, partCols) =>
      if (partCols.length == 2)
        PartitionedIndexOps.compactMulti(spark, path + suffix, partCols,
          maxFiles = 1).map(_._2)
      else
        PartitionedIndexOps.compact(spark, path + suffix, partCols.head,
          maxFiles = 1)
    }

  private def tmp(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"lifecycle_$tag").resolve("idx").toString

  private lazy val families: Seq[Family] = Seq(
    Family("dedup-signature",
      build = (c, p) => DedupIndex.writeSignatureIndex(c, p),
      upsert = (b, p) => DedupIndex.upsertSignatureIndex(b, p),
      corpusA = () => docsA, batchB = () => docsB,
      corpusFinal = () => docsFinal,
      tables = Seq("/bands" -> Seq("wb"), "/shingles" -> Seq("dbk")),
      versionPath = p => new org.apache.hadoop.fs.Path(p + "/_meta/version")),
    Family("lsh",
      build = (c, p) =>
        LshIndex.writeLshIndex(c, "embedding", "vec_id", planes, p),
      upsert = (b, p) =>
        LshIndex.upsertLshIndex(b, "embedding", "vec_id", planes, p),
      corpusA = () => vecsA, batchB = () => vecsB,
      corpusFinal = () => vecsFinal,
      tables = Seq("" -> Seq("bucket"), "_docs" -> Seq("dbk")),
      versionPath = p => new org.apache.hadoop.fs.Path(p + "_meta/version")),
    Family("multi-lsh",
      build = (c, p) =>
        LshIndex.writeMultiLshIndex(c, "embedding", "vec_id", planeSets, p),
      upsert = (b, p) =>
        LshIndex.upsertMultiLshIndex(b, "embedding", "vec_id", planeSets, p),
      corpusA = () => vecsA, batchB = () => vecsB,
      corpusFinal = () => vecsFinal,
      tables = Seq("" -> Seq("tbl", "bucket"), "_docs" -> Seq("dbk")),
      versionPath = p => new org.apache.hadoop.fs.Path(p + "_meta/version")),
    Family("ivf",
      build = (c, p) =>
        Similarity.writeIvfIndex(c, "embedding", "vec_id", cents, p),
      upsert = (b, p) =>
        Similarity.upsertIvfIndex(b, "embedding", "vec_id", cents, p),
      corpusA = () => vecsA, batchB = () => vecsB,
      corpusFinal = () => vecsFinal,
      tables = Seq("" -> Seq("list_id"), "_docs" -> Seq("dbk")),
      versionPath = p => new org.apache.hadoop.fs.Path(p + "_meta/version")),
    Family("ivf-pq",
      build = (c, p) =>
        IvfPq.writeIvfPqIndex(c, "embedding", "vec_id", cents, books, p),
      upsert = (b, p) =>
        IvfPq.upsertIvfPqIndex(b, "embedding", "vec_id", cents, books, p),
      corpusA = () => vecsA, batchB = () => vecsB,
      corpusFinal = () => vecsFinal,
      tables = Seq("" -> Seq("list_id"), "_refine" -> Seq("dbk")),
      versionPath = p => new org.apache.hadoop.fs.Path(p + "_meta/version")),
    Family("fts-postings",
      build = (c, p) => Fts.writePostingsIndex(
        Fts.positionalPostings(c, "doc_id", "text"), p,
        nBuckets = 8, nDocBuckets = 8),
      upsert = (b, p) => Fts.upsertPostingsIndex(b, p, "doc_id", "text",
        nBuckets = 8, nDocBuckets = 8),
      corpusA = () => docsA, batchB = () => docsB,
      corpusFinal = () => docsFinal,
      tables = Seq("" -> Seq("wb"), "_docs" -> Seq("db")),
      versionPath = p => new org.apache.hadoop.fs.Path(p + "_meta/version"),
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
      val vp = f.versionPath(dir)
      assert(PartitionedIndexOps.readVersion(fs, vp) == 1L,
        s"${f.name}: bulk build must claim version 1")
      // writer A claims, then stalls; writer B completes a real upsert
      val stale = PartitionedIndexOps.claimVersion(fs, vp)
      f.upsert(f.batchB(), dir)
      assert(PartitionedIndexOps.readVersion(fs, vp) == stale.version + 1,
        s"${f.name}: a completed upsert must advance the version by one")
      // A resumes at its commit point: the guard must abort, naming the
      // conflict
      val ex = intercept[IllegalArgumentException] {
        PartitionedIndexOps.requireVersion(fs, vp, stale,
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
      val filesBefore = f.tables.map { case (s, _) => parquetFiles(dir + s) }.sum
      val rewrote = compactAll(f, dir)
      assert(rewrote.nonEmpty,
        s"${f.name}: an 8-input-partition build plus an upsert must leave " +
          "at least one partition fragmented past maxFiles=1")
      val filesAfter = f.tables.map { case (s, _) => parquetFiles(dir + s) }.sum
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
      val vp = f.versionPath(dir)
      val pin = PartitionedIndexOps.readPin(fs, vp)
      val before = content(f, dir)
      val b = f.batchB()
      val dup = b.unionByName(b.limit(1))
      for ((what, write) <- Seq(
          "bulk build" -> f.checkedBuild.getOrElse(f.build),
          "upsert" -> f.upsert)) {
        val ex = intercept[IllegalArgumentException](write(dup, dir))
        assert(ex.getMessage.contains("duplicate"),
          s"${f.name} $what: ${ex.getMessage}")
        assert(PartitionedIndexOps.readPin(fs, vp) == pin,
          s"${f.name} $what: a rejected batch moved the version pin")
        assert(content(f, dir) == before,
          s"${f.name} $what: a rejected batch changed index content")
      }
    }
}
