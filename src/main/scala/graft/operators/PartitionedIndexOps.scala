package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The primitives under every persisted index's commit: version claims
  * and commit markers, unique-id validation, model fingerprints for pins,
  * and compaction. [[BucketedIndex]] owns the config pin and its one
  * check, the order these run in (the one write protocol, with its crash
  * and retry contract) and the one reader; only it and the `compact*`
  * passes here call the write-side primitives.
  */
object PartitionedIndexOps {

  /** Create the empty file `p` only if it is absent: true iff this call
    * created it. This is the compare-and-swap the version protocol rests
    * on. HDFS's `create(overwrite = false)` is atomic at the NameNode;
    * Hadoop's local filesystem implements it as check-then-open, so a
    * local path goes through `Files.createFile` (O_CREAT|O_EXCL) instead. */
  def createExclusive(fs: FileSystem, p: Path): Boolean =
    if (fs.getScheme == "file") {
      val f = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      java.nio.file.Files.createDirectories(f.getParent)
      try { java.nio.file.Files.createFile(f); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else
      try { fs.create(p, false).close(); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }

  private def versionsIn(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted

  /** The committed versions of the index whose metadata lives in `meta`
    * (one empty marker file `commits/<v>` each), ascending. A reader
    * resolves this set ONCE per read; rows and tombstones of any other
    * version are invisible to it. */
  def committedVersions(fs: FileSystem, meta: Path): Seq[Long] =
    versionsIn(fs, new Path(meta, "commits"))

  /** Claim a fresh writer version: `claims/<v>` is created exclusively, so
    * no two attempts ever share a version, and a claim is never reused
    * (a crashed or aborted attempt's version stays claimed, its files
    * unreferenced). Call before any data write. */
  def claimVersion(fs: FileSystem, meta: Path): Long = {
    val claims = new Path(meta, "claims")
    var v = (versionsIn(fs, claims) ++ committedVersions(fs, meta))
      .foldLeft(0L)(math.max) + 1
    while (!createExclusive(fs, new Path(claims, v.toString))) v += 1
    v
  }

  /** Abort unless `v` is newer than every committed version. Commits are
    * published in version order, so an attempt overtaken by a newer
    * commit (a concurrent writer) fails here; its retry claims a new
    * version and converges to the serial application. This is a check,
    * not a lock: two writers that pass it at the same instant commit in
    * either order. Their main-table rows still resolve by version, but a
    * copy-on-write id table keeps whichever rewrite landed last. */
  def requireLatest(fs: FileSystem, meta: Path, v: Long, what: String): Unit = {
    val newer = committedVersions(fs, meta).filter(_ > v)
    require(newer.isEmpty,
      s"$what: concurrent writer detected — version ${newer.max} was " +
        s"committed after this writer claimed version $v. Aborting before " +
        "the commit; retry this batch (the retry claims a new version, and " +
        "this attempt's files stay unreferenced).")
  }

  /** Publish version `v`: [[requireLatest]], then create `commits/<v>`
    * exclusively. Its rows and tombstones become visible together, to
    * every reader that resolves the committed set after this returns. Two
    * writers cannot both commit one version. */
  def commitVersion(fs: FileSystem, meta: Path, v: Long, what: String): Unit = {
    requireLatest(fs, meta, v, what)
    require(createExclusive(fs, new Path(new Path(meta, "commits"),
        v.toString)),
      s"$what: version $v is already committed — two writers cannot " +
        "commit one version")
  }

  /** Exact-bits fingerprint of a model matrix (IVF centroids, PQ
    * codebooks) for config pins: hex of every double's raw bits — two
    * matrices fingerprint equal iff bit-identical, so a retrained model
    * can never validate against an index built under the old one. */
  def matrixFingerprint(m: Array[Array[Double]]): String =
    m.map(_.map(v => java.lang.Long.toHexString(
      java.lang.Double.doubleToRawLongBits(v))).mkString(","))
      .mkString(";")

  /** Fail fast on a batch carrying the same id twice — an unordered frame
    * with two rows per doc has no deterministic winner, and a silent merge
    * corrupts the index (doubled tf, two vectors per id). One aggregation
    * job, returning the batch's row count; callers collapse re-crawls to
    * one row per doc first. */
  def requireUniqueIds(df: DataFrame, idCol: String): Long = {
    val r = df.agg(count(lit(1)).as("n"),
      countDistinct(col(idCol)).as("nd")).head
    require(r.getLong(0) == r.getLong(1),
      s"batch contains duplicate $idCol rows — collapse re-crawls to one " +
        "row per doc before indexing")
    r.getLong(0)
  }

  /** [[requireUniqueIds]] fused with the collect of the id buckets the
    * batch hits, in ONE job — what an upsert of a copy-on-write id table
    * needs before it rewrites those buckets. `bucket` must be the
    * index's LongType bucket-id expression over `df`'s rows; the returned
    * distinct values are bounded by the bucket geometry by construction
    * (≤ nDocBuckets), and empty exactly when the batch is. Rejects
    * duplicate ids with [[requireUniqueIds]]'s contract BEFORE the caller
    * touches the index. */
  def requireUniqueIdsCollectingBuckets(df: DataFrame, idCol: String,
      bucket: org.apache.spark.sql.Column): Seq[Long] = {
    val r = df.agg(count(lit(1)).as("n"), countDistinct(col(idCol)).as("nd"),
      collect_set(bucket).as("bks")).head
    require(r.getLong(0) == r.getLong(1),
      s"batch contains duplicate $idCol rows — collapse re-crawls to one " +
        "row per doc before indexing")
    r.getSeq[Long](2)
  }

  private def dataFiles(fs: FileSystem, dir: Path): Set[String] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet

  private def subdirs(fs: FileSystem, dir: Path, partCol: String): Seq[Path] =
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(partCol + "="))

  private def valueOf(p: Path, partCol: String): Long =
    p.getName.drop(partCol.length + 1).toLong

  /** Compact an index table in place: every upsert appends a delta file
    * to each partition it touches, so a long-running ingest loop (q145's
    * shape) accretes one file per batch per hit bucket — and probe cost
    * degrades from "read K buckets" to "open K × batches files".
    * Compaction rewrites ONLY partitions holding more than `maxFiles` data
    * files, one file per partition afterwards (`repartition(partCol)`
    * routes each key to exactly one task), and returns the partition
    * values it rewrote (empty = nothing exceeded the threshold).
    *
    * On a versioned table (an index's main table, whose commits and
    * tombstones live in `meta`) a rewrite FOLDS: it keeps exactly the rows
    * the reader serves ([[BucketedIndex.committed]] — committed versions,
    * no tombstoned id), each with its version, and a partition whose rows
    * are all tombstoned is deleted. When the pass folded every partition,
    * no row is left for a tombstone to drop, and the tombstones are
    * deleted too. An id-keyed copy-on-write table has no versions; its
    * rewrite is content-identical. Either way a crash leaves a mix of
    * folded and unfolded partitions that reads the same and re-compacts.
    * Run it between writes: a fold drops rows of versions that are not
    * committed yet.
    *
    * The enumeration is a driver-side directory listing, bounded by the
    * index's bucket geometry. Partition values must be numeric (true for
    * every index here: term/doc buckets, IVF list ids) — the threshold
    * filter casts through long so the read prunes to the over-threshold
    * partitions only. */
  def compact(spark: SparkSession, path: String, partCol: String,
      maxFiles: Int = 4, meta: Option[String] = None): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val all = subdirs(fs, root, partCol)
    val over = all.filter(d => dataFiles(fs, d).size > maxFiles)
    if (over.isEmpty) return Seq.empty
    val values = over.map(valueOf(_, partCol))
    val m = metaOf(path, meta)
    fold(spark, fs, path, Seq(partCol), over, over.size == all.size,
      compactionSlice(spark, path, partCol, values, m), m)
    values
  }

  /** Two-level [[compact]] for nested layouts (the multi-table LSH
    * index's `tbl=/bucket=`): rewrites only partition PAIRS holding more
    * than `maxFiles` data files, one file per pair afterwards
    * (`repartition(partCols)` routes each pair to one task). The
    * enumeration is a bounded nested listing (tables × buckets by
    * construction); the rewrite read prunes on both partition columns;
    * the same fold and crash contract as the single-level form. Returns
    * the (outer, inner) value pairs it rewrote.
    *
    * PRECONDITION: both partition columns must hold LONG-parseable
    * values (the index families here partition on `tbl`/`bucket`/`dbk`
    * longs) — the directory-name parse is `.toLong`, so a string
    * partition value or a `__HIVE_DEFAULT_PARTITION__` from a null
    * throws NumberFormatException mid-enumeration. Not a general-purpose
    * string-partition compactor. */
  def compactMulti(spark: SparkSession, path: String, partCols: Seq[String],
      maxFiles: Int = 4, meta: Option[String] = None): Seq[(Long, Long)] = {
    require(partCols.length == 2,
      "compactMulti handles exactly two partition levels")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val all = for {
      outer <- subdirs(fs, root, partCols.head)
      inner <- subdirs(fs, outer, partCols(1))
    } yield inner
    val over = all.filter(d => dataFiles(fs, d).size > maxFiles)
    if (over.isEmpty) return Seq.empty
    val pairs = over.map(d =>
      (valueOf(d.getParent, partCols.head), valueOf(d, partCols(1))))
    val pred = pairs.groupBy(_._1).map { case (t, vs) =>
      col(partCols.head).cast("long") === t &&
        col(partCols(1)).cast("long").isInCollection(vs.map(_._2))
    }.reduce(_ || _)
    val m = metaOf(path, meta)
    fold(spark, fs, path, partCols, over, over.size == all.size,
      BucketedIndex.committed(spark, path, m, keepVersion = true).filter(pred),
      m)
    pairs
  }

  /** The sibling metadata directory the five single-root families keep
    * (`<path>_meta`); the dedup index passes its own. */
  private def metaOf(path: String, meta: Option[String]): String =
    meta.getOrElse(path + "_meta")

  /** Rewrite `rows` (the over-threshold partitions' served rows) as one
    * file per partition with a dynamic overwrite — it replaces only the
    * partitions present in its output, after the job has read them — then
    * delete each over-threshold partition the output left untouched (all
    * of its rows were tombstoned), and the tombstones once `everything`
    * was folded. */
  private def fold(spark: SparkSession, fs: FileSystem, path: String,
      partCols: Seq[String], over: Seq[Path], everything: Boolean,
      rows: DataFrame, meta: String): Unit = {
    val versioned = rows.columns.contains(BucketedIndex.Version)
    require(!versioned || fs.exists(new Path(meta, "commits")),
      s"$path carries row versions but $meta holds no commit log — pass " +
        "the index's metadata directory, or the fold would drop every row")
    val before = over.map(d => d -> dataFiles(fs, d)).toMap
    rows.repartition(partCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
    over.filter(d => dataFiles(fs, d) == before(d)).foreach(fs.delete(_, true))
    if (everything && versioned)
      fs.delete(BucketedIndex.tombstonePath(meta), true)
  }

  /** The pruned read compaction rewrites from — factored out so the spec
    * can assert the long-cast threshold filter lands as a PARTITION
    * filter (file-index pruning), not a data filter over the whole index:
    * at scale, compacting 3 hot buckets must not scan the other 61. */
  private[graft] def compactionSlice(spark: SparkSession, path: String,
      partCol: String, over: Seq[Long], meta: String): DataFrame =
    BucketedIndex.committed(spark, path, meta,
      keepVersion = true)
      .filter(col(partCol).cast("long").isInCollection(over))
}
