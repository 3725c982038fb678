package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The write protocol and the one reader of every persisted index family
  * (LSH, multi-table LSH, IVF, IVF-PQ, FTS postings, MinHash signatures) —
  * Chroma's delete-then-add upsert (reference:
  * scripts/scrape_store_embed.py:79-86) as merge-on-read over partitioned
  * parquet, the transaction-log idea of Delta Lake (Armbrust et al.,
  * VLDB 2020) with no library:
  *
  *   - the MAIN table, partitioned by routing buckets (`mainParts`: LSH
  *     sign bits, IVF lists, term buckets, band buckets), which probes read
  *     with partition pruning. Every row carries the version `_v` of the
  *     write that added it;
  *   - the TOMBSTONES (`<meta>/tombstones`): (id, `_v`) for every id an
  *     upsert wrote, so the id's older rows — wherever they are routed —
  *     stop being served;
  *   - the commit log (`<meta>/claims/<v>`, `<meta>/commits/<v>`, see
  *     [[PartitionedIndexOps.claimVersion]]);
  *   - optionally an id-keyed DATA table (`data`: IVF-PQ's refine vectors,
  *     dedup's shingles), partitioned by an id bucket and kept at one row
  *     per id by copy-on-write: its readers point-look-up by id and read
  *     it raw.
  *
  * A family supplies only data: its table paths and partition columns
  * (this class), and per call a [[BucketedIndex.Write]].
  *
  * ==The pin ([[requirePin]])==
  * One file, `<meta>/config`: sorted `k=v` lines holding every parameter
  * that changes routing or stored bytes (model fingerprints, bucket
  * counts, payload columns) plus the protocol's [[BucketedIndex.Layout]]
  * key. It is the index's whole identity, and [[requirePin]] is its one
  * check: an upsert passes its full config, a probe the keys it routes
  * by. An absent pin (never built, or a crashed build) and any differing
  * key fail by name.
  *
  * ==Visibility ([[read]])==
  * A reader resolves the committed versions once, then lists the table:
  * it serves the rows of committed versions whose id has no newer
  * committed tombstone (a broadcast anti-join; the tombstones are one row
  * per upserted id). Rows of versions committed after that resolution are
  * invisible to it, so a probe that overlaps an upsert sees exactly the
  * pre-batch or the post-batch index. Appends never delete a file, so a
  * running probe never loses one.
  *
  * ==Bulk build ([[build]])==
  * validate the pin's keys and values and unique ids → claim version v →
  * the pin (first for `configFirst` families, FTS and dedup; deleted here
  * and written after the data for the vector indexes, so a rebuild under
  * retrained centroids or planes that crashes mid-write leaves data
  * without a pin, which probes and upserts refuse) → overwrite the data
  * table and the main table (rows tagged v) → drop the tombstones →
  * commit v.
  *
  * ==Upsert ([[upsert]])==
  *   1. an index without main partitions routes to the bulk build;
  *   2. the pin must exist and match the full config ([[requirePin]]);
  *   3. ONE job validates unique batch ids (and collects the data-table
  *      buckets the batch hits, unless the caller did); an empty batch
  *      stops here;
  *   4. claim version v;
  *   5. append the batch's main rows, tagged v, to their partitions;
  *   6. append the batch's ids as tombstones tagged v;
  *   7. rewrite the data table's hit buckets: old rows minus the batch's
  *      ids, plus the batch's rows (a dynamic overwrite — re-crawled ids
  *      keep their bucket, so a hit bucket never vacates);
  *   8. commit v ([[PartitionedIndexOps.commitVersion]]).
  * No step reads the main table, and no step rewrites a main partition.
  *
  * Crash and retry contract: a rejected batch fails at 3, before any
  * write. An attempt that dies anywhere before 8 leaves only files of an
  * uncommitted version, which no reader serves (the data table excepted:
  * from 7 on it holds the batch's rows); re-running the SAME batch
  * (foreachBatch retry semantics) claims a new version, rewrites the same
  * data buckets to the same content, and converges. An attempt overtaken
  * by a newer commit aborts at 8 (or before 7) and converges the same way.
  * Crash points `<name>.upsert.{claimed, between-writes, tombstoned,
  * staged}` follow steps 4, 5, 6 and 7, so tests can kill a real driver
  * at each.
  *
  * ==Compaction==
  * [[PartitionedIndexOps.compact]] / `compactMulti` fold a main table's
  * fragmented partitions to one file each, keeping exactly the rows this
  * reader serves, and drop the tombstones once every partition is folded.
  *
  * @param builder the call that builds this index, named when it refuses
  * @param pinned  what the pin covers, in words, for the mismatch message
  */
private[graft] final case class BucketedIndex(
    name: String,
    path: String,
    main: String,
    mainParts: Seq[String],
    meta: String,
    builder: String,
    pinned: String,
    data: Option[(String, String)] = None,
    configFirst: Boolean = false) {
  import BucketedIndex._

  private def pinPath = new Path(meta, "config")
  private def metaPath = new Path(meta)

  private def fs(spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Does the main table hold at least one partition? A bare pre-created
    * (or fully emptied) directory routes callers to the bulk build. */
  def hasData(spark: SparkSession): Boolean = {
    val fs = this.fs(spark)
    val p = new Path(main)
    fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith(mainParts.head + "="))
  }

  /** THE pin check: the pin must exist, and `layout` and every `expected`
    * key must equal the stored value — a differing key would route the
    * wrong buckets, score against the wrong model or write a ragged
    * schema. Returns the stored pin. */
  def requirePin(spark: SparkSession,
      expected: Map[String, String]): Map[String, String] = {
    val stored = readConfigPin(fs(spark), pinPath)
    require(stored.isDefined,
      s"$name index at $path has no config pin (never built, or a crashed " +
        s"build) — build it with $builder")
    val got = stored.get
    val want = expected ++ Layout
    def show(v: String) =
      if (v.length > 40) s"${v.take(16)}…(${v.length} chars)" else v
    val bad = want.keys.toSeq.sorted.filter(k => !got.get(k).contains(want(k)))
      .map { k =>
        s"$k=${got.get(k).fold("<absent>")(show)} on disk, " +
          s"$k=${show(want(k))} requested" + (if (got.contains(k)) ""
            else s" (the pin was written without the $k key)")
      }
    require(bad.isEmpty,
      s"$name index at $path was built under different $pinned: " +
        bad.mkString("; ") + s" — rebuild it with $builder")
    got
  }

  /** A pin is one `k=v` line per key: a key with '=' or a newline, or a
    * value with a newline, would not read back as written. */
  private def requireStorable(cfg: Map[String, String]): Unit =
    cfg.foreach { case (k, v) =>
      require(!k.exists("=\n".contains(_)) && !v.contains('\n'),
        s"$name index at $path: config pin key " +
          s"'${k.replace("\n", "\\n")}' cannot be stored — a key must not " +
          "contain '=' or a newline, a value must not contain a newline")
    }

  /** The main table's served rows (the class doc's visibility rule). */
  def read(spark: SparkSession): DataFrame = committed(spark, main, meta)

  /** The id-keyed data table, one row per id. */
  def readData(spark: SparkSession): DataFrame =
    committed(spark, data.get._1, meta)

  def build(w: Write): Unit = {
    val spark = w.main.sparkSession
    val fs = this.fs(spark)
    try {
      requireStorable(w.config)
      w.keyed.foreach(PartitionedIndexOps.requireUniqueIds(_, w.idCol))
      val v = PartitionedIndexOps.claimVersion(fs, metaPath)
      val pin = () => writeConfigPin(fs, pinPath, w.config ++ Layout)
      if (configFirst) pin() else fs.delete(pinPath, false)
      for ((dir, bucket) <- data; rows <- w.data)
        rows.write.mode(SaveMode.Overwrite).partitionBy(bucket).parquet(dir)
      w.main.withColumn(Version, lit(v)).write.mode(SaveMode.Overwrite)
        .partitionBy(mainParts: _*).parquet(main)
      // older than v, they drop no row of this build; they go only once
      // the rows they retired are gone
      fs.delete(tombstonePath(meta), true)
      if (!configFirst) pin()
      PartitionedIndexOps.commitVersion(fs, metaPath, v,
        s"$name index bulk build at $path")
    } finally w.owned.foreach(_.unpersist())
  }

  /** Fold `w`'s batch in. `dataHits`: the batch's data-table buckets when
    * the caller already validated its ids and collected them in a fused
    * job of its own (dedup's ingestBatch). */
  def upsert(w: Write, dataHits: Option[Seq[Long]] = None): Unit = {
    val spark = w.main.sparkSession
    val fs = this.fs(spark)
    if (!hasData(spark)) { build(w); return }
    try {
      requirePin(spark, w.config)
      val keyed = w.keyed.get
      val hits = data.map { case (_, bucket) => dataHits.getOrElse(
        PartitionedIndexOps.requireUniqueIdsCollectingBuckets(
          w.data.get, w.idCol, col(bucket))) }
      val empty = hits.fold(
        PartitionedIndexOps.requireUniqueIds(keyed, w.idCol) == 0)(_.isEmpty)
      if (!empty) {
        val what = s"$name index upsert at $path"
        def step(s: String) = graft.streaming.CrashPoints
          .reached(s"$name.upsert.$s")
        val v = PartitionedIndexOps.claimVersion(fs, metaPath)
        step("claimed")
        w.main.withColumn(Version, lit(v)).write.mode(SaveMode.Append)
          .partitionBy(mainParts: _*).parquet(main)
        step("between-writes")
        keyed.select(col(w.idCol), lit(v).as(Version)).coalesce(1)
          .write.mode(SaveMode.Append).parquet(tombstonePath(meta).toString)
        step("tombstoned")
        for ((dir, bucket) <- data; rows <- w.data; hit <- hits) {
          PartitionedIndexOps.requireLatest(fs, metaPath, v, what)
          readData(spark).filter(col(bucket).isInCollection(hit))
            .join(keyed.select(col(w.idCol)), Seq(w.idCol), "left_anti")
            .unionByName(rows)
            .write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(bucket).parquet(dir)
        }
        step("staged")
        PartitionedIndexOps.commitVersion(fs, metaPath, v, what)
      }
    } finally w.owned.foreach(_.unpersist())
  }
}

private[graft] object BucketedIndex {

  /** The row-version column of every main table. */
  val Version = "_v"

  /** The pin key of the on-disk protocol. An index written under an
    * older protocol (no key, or `merge-on-read-1`, whose pins carried keys
    * that routed nothing) fails every pin check on it. */
  val Layout: Map[String, String] = Map("layout" -> "merge-on-read-2")

  private[graft] def writeConfigPin(fs: FileSystem, path: Path,
      cfg: Map[String, String]): Unit = {
    val out = fs.create(path, true)
    try out.write(cfg.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The stored pin, None if absent. */
  private[graft] def readConfigPin(fs: FileSystem,
      path: Path): Option[Map[String, String]] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Some(text.linesIterator.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap)
    }

  def tombstonePath(meta: String): Path = new Path(meta, "tombstones")

  /** THE reader of an index table; every engine read of one goes through
    * here. On a versioned table: the rows of the versions committed under
    * `meta` (resolved BEFORE the table is listed), minus every row whose
    * id has a committed tombstone of a newer version; `keepVersion` keeps
    * `_v` for compaction. A table without `_v` (an id-keyed copy-on-write
    * table) is served as stored. */
  def committed(spark: SparkSession, table: String, meta: String,
      keepVersion: Boolean = false): DataFrame = {
    val m = new Path(meta)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = PartitionedIndexOps.committedVersions(fs, m)
    val rows = spark.read.parquet(table)
    if (!rows.columns.contains(Version)) rows
    else {
      val live = rows.filter(col(Version).isInCollection(versions))
      val tp = tombstonePath(meta)
      val served =
        if (!fs.exists(tp) || !fs.listStatus(tp)
            .exists(_.getPath.getName.endsWith(".parquet"))) live
        else {
          val t = spark.read.parquet(tp.toString)
          val id = t.columns.filterNot(_ == Version).head
          val dead = t.filter(col(Version).isInCollection(versions))
            .select(col(id).as("__tid"), col(Version).as("__tv"))
          live.join(broadcast(dead),
            live(id) === dead("__tid") && dead("__tv") > live(Version),
            "left_anti")
        }
      if (keepVersion) served else served.drop(Version)
    }
  }

  /** One call's data.
    *
    * @param config   the pin: every parameter that changes routing or
    *                 stored bytes
    * @param idCol    the row id column of every table
    * @param keyed    the batch at one row per id: validated before any
    *                 claim, and the source of the tombstones (None only
    *                 for a bulk build over rows that are not keyed by id —
    *                 FTS postings — whose caller owns the check)
    * @param main     the batch's main-table rows, partition columns included
    * @param data     the batch's data-table rows (one per id, id bucket
    *                 included): with a data table, what an upsert validates
    * @param owned    caches the call releases when it ends
    */
  final case class Write(
      config: Map[String, String],
      idCol: String,
      keyed: Option[DataFrame],
      main: DataFrame,
      data: Option[DataFrame] = None,
      owned: Seq[DataFrame] = Nil)
}
