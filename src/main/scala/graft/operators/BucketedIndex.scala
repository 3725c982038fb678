package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The write protocol of every persisted index family (LSH, multi-table
  * LSH, IVF, IVF-PQ, FTS postings, MinHash signatures) — Chroma's
  * delete-then-add upsert (reference: scripts/scrape_store_embed.py:79-86)
  * over two partitioned parquet tables:
  *
  *   - the MAIN table, partitioned by routing buckets (`mainParts`: LSH
  *     sign bits, IVF lists, term buckets, band buckets), which probes read
  *     with partition pruning;
  *   - the SIDE table, partitioned by an id bucket (`sideBucket`), which
  *     answers "which main partitions does this id occupy now?" — a
  *     re-crawled row's OLD buckets are not recomputable from its new
  *     content, so an upsert finds them here with a pruned point read.
  *
  * A family supplies only data: its table paths and partition columns
  * (this class), and per call a [[BucketedIndex.Write]] — the config map,
  * the batch's main/side rows, the batch's id-bucket expression, and how
  * old main partition keys come from side rows.
  *
  * ==Bulk build ([[build]])==
  * validate unique ids → claim the writer version → the family's write
  * order, with [[PartitionedIndexOps.requireVersion]] right before the
  * LAST write, which is the build's commit:
  *   - pin-last families (the vector indexes): delete the stale config
  *     pin, main, side, pin. A rebuild under retrained centroids or
  *     planes that crashes mid-write must not leave the old pin beside
  *     half-new data; it leaves data without a pin, which upserts refuse
  *     fast (rebuild required) — a bulk write is not keyed by batch, so
  *     it cannot heal the way the merge can.
  *   - `configFirst` families (FTS, dedup): pin first, so every retry or
  *     later caller validates against the true geometry; then main, side
  *     (FTS — a crash between them leaves a main table without its side
  *     table, which the next upsert rebuilds via `sideFromMain`), or side,
  *     main (dedup, `sideFirst` — the empty-index check keys on the main
  *     table, so a crash mid-build routes the retry to a clean rebuild).
  *
  * ==Upsert ([[upsert]])==
  *   1. an index without main partitions routes to the bulk build;
  *   2. the config pin must exist and match;
  *   3. ONE job validates unique batch ids and collects the side buckets
  *      the batch hits (skipped when the caller already did both);
  *   4. claim the writer version — after validation, so a rejected batch
  *      leaves the version pin and every table untouched;
  *   5. read the side table pruned to the hit buckets (cached);
  *   6. collect the affected main partitions: the batch's ∪ the old ones
  *      its ids occupy (bounded by the bucket geometry);
  *   7. anti-join the batch ids out of those partitions, union in the
  *      batch's rows;
  *   8. [[PartitionedIndexOps.overwriteAffected]]: staged dynamic
  *      overwrite, then delete the partitions the batch vacated;
  *   9. [[PartitionedIndexOps.requireVersion]];
  *  10. rewrite the side table's hit buckets (they never vacate: every
  *      removed id is re-inserted);
  *  11. release the caches.
  *
  * Crash and retry contract: a crash anywhere in 8–10 leaves the side
  * table at its pre-batch state, still naming each re-crawled id's true
  * old partitions, so re-running the SAME batch (foreachBatch retry
  * semantics) re-covers old ∪ new partitions and converges; the anti-join
  * + union is idempotent. The crash point `<name>.upsert.between-writes`
  * (after 8) lets a process-level test kill a real driver there. A writer
  * overtaken by a concurrent claim aborts at 9 before its side-table
  * commit; its retry after the winner completes converges the same way.
  */
private[operators] final case class BucketedIndex(
    name: String,
    path: String,
    main: String,
    mainParts: Seq[String],
    side: String,
    sideBucket: String,
    meta: String,
    pinFile: String,
    builder: String,
    pinned: String,
    configFirst: Boolean = false,
    sideFirst: Boolean = false,
    pinDefaults: Map[String, String] = Map.empty) {
  import BucketedIndex.Write

  private def pinPath = new Path(s"$meta/$pinFile")
  private def versionPath = new Path(s"$meta/version")

  private def fs(spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def hasData(spark: SparkSession): Boolean =
    PartitionedIndexOps.hasPartitions(fs(spark), main, mainParts.head)

  private def storedConfig(spark: SparkSession): Option[Map[String, String]] =
    PartitionedIndexOps.readConfigPin(fs(spark), pinPath)

  /** The stored pin of an index a probe is about to read: absent means
    * never built or a crashed build. */
  def requireBuilt(spark: SparkSession): Map[String, String] = {
    val stored = storedConfig(spark)
    require(stored.isDefined,
      s"$name index at $path has no config pin (never built, or a crashed " +
        s"build) — build it with $builder before probing")
    stored.get
  }

  /** Tolerant per-key check for probes: every expected key must match a
    * present pin ([[PartitionedIndexOps.requireConfigPin]]). */
  def requireConfig(spark: SparkSession, expected: Map[String, String]): Unit =
    PartitionedIndexOps.requireConfigPin(fs(spark), pinPath, expected,
      s"$name index at $path")

  def build(w: Write): Unit = {
    val spark = w.main.sparkSession
    val fs = this.fs(spark)
    try {
      w.keyed.foreach(PartitionedIndexOps.requireUniqueIds(_, w.idCol))
      val claimed = PartitionedIndexOps.claimVersion(fs, versionPath)
      val pin = () => PartitionedIndexOps.writeConfigPin(fs, pinPath, w.config)
      val tables = Seq(() => overwrite(w.main, main, mainParts),
        () => overwrite(w.side, side, Seq(sideBucket)))
      if (!configFirst) fs.delete(pinPath, false)
      val writes =
        if (configFirst) pin +: (if (sideFirst) tables.reverse else tables)
        else tables :+ pin
      writes.init.foreach(_())
      PartitionedIndexOps.requireVersion(fs, versionPath, claimed,
        s"$name index bulk build at $path")
      writes.last()
    } finally w.owned.foreach(_.unpersist())
  }

  /** Fold `w`'s batch in. `sideHits`: the batch's side buckets when the
    * caller already validated its ids and collected them in a fused job of
    * its own (dedup's ingestBatch). */
  def upsert(w: Write, sideHits: Option[Seq[Long]] = None): Unit = {
    val spark = w.main.sparkSession
    val fs = this.fs(spark)
    if (!hasData(spark)) { build(w); return }
    var pruned: Option[DataFrame] = None
    try {
      requirePin(spark, w.config)
      val hits = sideHits.getOrElse(
        PartitionedIndexOps.requireUniqueIdsCollectingBuckets(
          w.keyed.get, w.idCol, w.sideKey))
      val claimed = PartitionedIndexOps.claimVersion(fs, versionPath)
      val batchIds = w.side.select(col(w.idCol)).distinct()
      // a side table lost to an interrupted bulk build (FTS) re-derives
      // from the main table: the old rows here, all of it after the
      // rewrite below (a fresh read — the write invalidates caches over
      // the main table)
      val rebuild = w.sideFromMain.filter(_ => !fs.exists(new Path(side)))
      val old = (rebuild match {
        case Some(derive) => derive(spark.read.parquet(main))
        case None => spark.read.parquet(side)
          .filter(col(sideBucket).isInCollection(hits))
      }).cache()
      pruned = Some(old)
      val keys = mainParts.map(col)
      // bounded by the family's bucket geometry
      val affected = w.main.select(keys: _*)
        .union(w.oldKeys(old.join(batchIds, Seq(w.idCol), "left_semi"))
          .select(keys: _*))
        .distinct().collect().map(_.toSeq: Seq[Any]).toSet
      val merged = spark.read.parquet(main)
        .filter(keyFilter(affected))
        .join(batchIds, Seq(w.idCol), "left_anti") // drop re-crawled rows
        .unionByName(w.main)
      PartitionedIndexOps.overwriteAffected(merged, main, mainParts,
        affected, fs)
      graft.streaming.CrashPoints.reached(s"$name.upsert.between-writes")
      val sideMerged = rebuild match {
        case Some(derive) => derive(spark.read.parquet(main))
        case None => old.join(batchIds, Seq(w.idCol), "left_anti")
          .unionByName(w.side)
      }
      PartitionedIndexOps.requireVersion(fs, versionPath, claimed,
        s"$name index upsert at $path")
      PartitionedIndexOps.pinWrite(sideMerged, side, Seq(sideBucket))
    } finally {
      pruned.foreach(_.unpersist())
      w.owned.foreach(_.unpersist())
    }
  }

  /** Data without a pin is a crashed build; a pin that differs in any key
    * (absent keys read as `pinDefaults`) would route the wrong buckets or
    * write a ragged schema. */
  private def requirePin(spark: SparkSession,
      expected: Map[String, String]): Unit = {
    val stored = storedConfig(spark)
    require(stored.isDefined,
      s"$name index at $path has data but no config pin (crashed build?) " +
        s"— rebuild it with $builder before upserting")
    val got = pinDefaults ++ stored.get
    def show(v: Option[String]) = v.fold("<absent>")(s =>
      if (s.length > 40) s"${s.take(16)}…(${s.length} chars)" else s)
    (expected.keySet ++ got.keySet).toSeq.sorted.foreach { k =>
      require(got.get(k) == expected.get(k),
        s"$name index at $path was built under different $pinned: " +
          s"$k=${show(got.get(k))} on disk, $k=${show(expected.get(k))} " +
          "requested — an upsert would route the wrong buckets or write a " +
          s"ragged schema (rebuild it with $builder)")
    }
  }

  /** Partition filter over the affected key set: one IN list, or for a
    * two-level layout an OR of per-outer-value IN lists (an empty set
    * selects nothing). */
  private def keyFilter(keys: Set[Seq[Any]]): Column = mainParts match {
    case Seq(p) => col(p).isInCollection(keys.map(_.head))
    case Seq(outer, inner) =>
      keys.groupBy(_.head).map { case (o, ks) =>
        col(outer) === lit(o) && col(inner).isInCollection(ks.map(_(1)))
      }.reduceOption(_ || _).getOrElse(lit(false))
  }

  private def overwrite(df: DataFrame, dir: String,
      parts: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(parts: _*).parquet(dir)
}

private[operators] object BucketedIndex {

  /** One call's data.
    *
    * @param config   the pin: every parameter that changes routing or
    *                 stored bytes
    * @param idCol    the row id column of both tables
    * @param keyed    the batch at one row per id, validated before any
    *                 claim (None only for a bulk build over rows that are
    *                 not keyed by id — FTS postings — whose caller owns the
    *                 check)
    * @param sideKey  the side bucket of a `keyed` row
    * @param main     the batch's main-table rows, partition columns included
    * @param side     the batch's side-table rows
    * @param oldKeys  side rows → the main partition keys they occupy
    * @param sideFromMain  rebuilds side rows from the main table when the
    *                 side table is missing (FTS's interrupted bulk build)
    * @param owned    caches the call releases when it ends
    */
  final case class Write(
      config: Map[String, String],
      idCol: String,
      keyed: Option[DataFrame],
      sideKey: Column,
      main: DataFrame,
      side: DataFrame,
      oldKeys: DataFrame => DataFrame,
      sideFromMain: Option[DataFrame => DataFrame] = None,
      owned: Seq[DataFrame] = Nil)
}
