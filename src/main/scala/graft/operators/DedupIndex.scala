package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash dedup index — [[Dedup.incrementalDupPairs]] with the
  * corpus side PRECOMPUTED and stored, the way a 100 TB ingest pipeline
  * actually runs dedup: corpus signatures are built once at index time and
  * every arriving batch probes them; nothing ever re-shingles the corpus
  * (the [[Fts]] persisted-index pattern applied to the dedup family).
  *
  * Layout ([[BucketedIndex]]: bands merge-on-read, shingles copy-on-write):
  *   path/bands     (doc_id, fp, band, bh, _v)  partitioned by wb  = bh mod nBuckets
  *   path/shingles  (doc_id, sg)                partitioned by dbk = doc_id mod nDocBuckets
  *   path/_meta     the pin (`config`: n, numHashes, rowsPerBand, nBuckets,
  *                  nDocBuckets), commits and tombstones
  *
  * `fp` is the doc's full-signature fingerprint
  * ([[Dedup.signatureFingerprint]], 8 B/row): the capped probe
  * ([[probeIndexCapped]]) feeds the hit band rows, fp included, straight to
  * the per-bucket cap kernel ([[Dedup.capBuckets]]), which collapses
  * boilerplate clusters without re-reading signatures; the uncapped probe
  * column-prunes it away.
  *
  * A probe computes the batch's bands, reads ONLY the band buckets those hit
  * (partition pruning on wb, spec-asserted like the Fts/IVF indexes),
  * equi-joins candidates on (band, bh), then reads ONLY the candidate docs'
  * shingle buckets (pruning on dbk) for the exact-Jaccard verify. Both
  * driver-side bucket collects are bounded by construction (≤ nBuckets /
  * ≤ nDocBuckets values — PlanSpec whitelist). Probe output is identical to
  * [[Dedup.incrementalDupPairs]] on (corpus, batch): same bands, same
  * candidate set, same verify — the round-trip query q143 pins that under
  * the brute-force cross-split oracle.
  */
object DedupIndex {

  private def bucketOf(c: org.apache.spark.sql.Column, m: Int) =
    pmod(c, lit(m.toLong))

  /** Every parameter that changes band hashes or bucket ids is pinned and
    * re-validated by every probe and upsert — a probe under a different
    * config would SILENTLY miss duplicates (wrong buckets pruned, wrong
    * band hashes joined). The pin is written FIRST, so every retry
    * validates against the true geometry. */
  private[graft] def index(path: String) = BucketedIndex("dedup", path,
    path + "/bands", Seq("wb"), path + "/_meta", "writeSignatureIndex",
    "shingle, hash, or bucket geometry",
    data = Some((path + "/shingles", "dbk")), configFirst = true)

  private def configOf(n: Int, numHashes: Int, rowsPerBand: Int,
      nBuckets: Int, nDocBuckets: Int): Map[String, String] =
    Map("n" -> n, "numHashes" -> numHashes, "rowsPerBand" -> rowsPerBand,
      "nBuckets" -> nBuckets, "nDocBuckets" -> nDocBuckets)
      .map { case (k, v) => k -> v.toString }

  private def bands(sg: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame =
    Dedup.signatureBandsWithFp(Dedup.minhashSignatures(sg, numHashes),
      numHashes, rowsPerBand)

  /** A batch's rows over its shingle sets `bsg` (one row per doc): bands
    * carrying the signature fingerprint (8 B/row, so the capped probe can
    * pre-collapse boilerplate clusters without re-reading signatures) by
    * band bucket, shingles by doc bucket. A re-crawled doc's OLD bands are
    * retired by its doc-id tombstone. `batchBands` must be
    * `bands(bsg, …)`. */
  private def dedupWrite(bsg: DataFrame, batchBands: DataFrame, n: Int,
      numHashes: Int, rowsPerBand: Int, nBuckets: Int, nDocBuckets: Int,
      owned: Seq[DataFrame]): BucketedIndex.Write =
    BucketedIndex.Write(
      configOf(n, numHashes, rowsPerBand, nBuckets, nDocBuckets), "doc_id",
      Some(bsg),
      main = batchBands.withColumn("wb", bucketOf(col("bh"), nBuckets)),
      data = Some(bsg.withColumn("dbk", bucketOf(col("doc_id"), nDocBuckets))),
      owned = owned)

  def writeSignatureIndex(docs: DataFrame, path: String, n: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 2,
      nBuckets: Int = 16, nDocBuckets: Int = 16): Unit = {
    val sg = Dedup.shingleSets(docs, n).cache()
    index(path).build(dedupWrite(sg, bands(sg, numHashes, rowsPerBand), n,
      numHashes, rowsPerBand, nBuckets, nDocBuckets, owned = Seq(sg)))
  }

  /** Incremental maintenance — fold a (re-)crawled batch into the index
    * ([[BucketedIndex.upsert]] with band buckets as the main partitions;
    * drive from foreachBatch for a streaming feed). Per-batch cost scales
    * with the batch and its shingle buckets, never the bands table. An
    * unordered batch with the same doc twice has no deterministic winner
    * and fails loudly; callers collapse re-crawls to one row per doc
    * first. */
  def upsertSignatureIndex(batch: DataFrame, path: String, n: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 2,
      nBuckets: Int = 16, nDocBuckets: Int = 16): Unit = {
    val bsg = Dedup.shingleSets(batch, n).cache()
    index(path).upsert(dedupWrite(bsg, bands(bsg, numHashes, rowsPerBand), n,
      numHashes, rowsPerBand, nBuckets, nDocBuckets, owned = Seq(bsg)))
  }

  /** Near-dup pairs (jr, da=indexed doc, db=batch doc) for a fresh batch
    * against the persisted index. */
  def probeIndex(spark: SparkSession, path: String, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, nBuckets: Int = 16,
      nDocBuckets: Int = 16): DataFrame = {
    // DELIBERATE: the lazy plan reads the two probe-scoped caches (bsg,
    // cand), so a bare probe leaves them pinned and the pruned-scan probe
    // stays inspectable (QueriesSpec asserts its PartitionFilters); an
    // ingest loop uses ingestBatch, a serving session probeIndexManaged.
    probeIndexManaged(spark, path, batch, n, numHashes, rowsPerBand,
      threshold, nBuckets, nDocBuckets).result
  }

  /** [[probeIndex]] with cache ownership: the returned [[ProbeHandle]]
    * owns the two probe-scoped caches (batch shingles + verified
    * candidate pairs); materialize `result`, then `close()` and both are
    * released — the serving-session companion to [[ingestBatch]]'s
    * loop-owned lifecycle. */
  def probeIndexManaged(spark: SparkSession, path: String, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, nBuckets: Int = 16,
      nDocBuckets: Int = 16): ProbeHandle =
    managedProbe(spark, path, batch, n, numHashes, rowsPerBand, threshold,
      nBuckets, nDocBuckets, None)

  /** [[probeIndex]] with the hot-bucket cap on the CORPUS side of the band
    * join — the persisted-index twin of [[Dedup.incrementalDupPairsCapped]]
    * and the probe shape a 100 TB ingest should default to. Output is
    * identical to [[probeIndex]] whenever no hit bucket exceeds `maxBucket`
    * members (the q177 oracle gate); on a hot bucket the batch doc's dup
    * VERDICT survives via the fingerprint reps. The candidate job (the
    * doc-bucket collect at construction) observes the `lsh-cap-idx` margin
    * ([[Dedup.capBuckets]]). */
  def probeIndexCapped(spark: SparkSession, path: String, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, nBuckets: Int = 16,
      nDocBuckets: Int = 16, maxBucket: Int = 64): DataFrame =
    probeIndexCappedManaged(spark, path, batch, n, numHashes, rowsPerBand,
      threshold, nBuckets, nDocBuckets, maxBucket).result

  /** [[probeIndexCapped]] with cache ownership ([[probeIndexManaged]]'s
    * contract). */
  def probeIndexCappedManaged(spark: SparkSession, path: String,
      batch: DataFrame, n: Int = 3, numHashes: Int = 32,
      rowsPerBand: Int = 2, threshold: Double = 0.5, nBuckets: Int = 16,
      nDocBuckets: Int = 16, maxBucket: Int = 64): ProbeHandle =
    managedProbe(spark, path, batch, n, numHashes, rowsPerBand, threshold,
      nBuckets, nDocBuckets, Some(maxBucket))

  private def managedProbe(spark: SparkSession, path: String,
      batch: DataFrame, n: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double, nBuckets: Int, nDocBuckets: Int,
      maxBucket: Option[Int]): ProbeHandle = {
    index(path).requirePin(spark,
      configOf(n, numHashes, rowsPerBand, nBuckets, nDocBuckets))
    val bsg = Dedup.shingleSets(batch, n).cache()
    val (plan, cand) = probeCore(spark, path, bsg, numHashes, rowsPerBand,
      threshold, nBuckets, nDocBuckets, maxBucket)
    new ProbeHandle(plan, Seq(bsg, cand))
  }

  /** The probe over a cached shingle frame, shared by the probes and
    * [[ingestBatch]]. Returns (pairs plan, pinned candidate cache): the
    * plan reads bsg and cand lazily, so the CALLER releases cand —
    * ingestBatch right after checkpointing the pairs. */
  private def probeCore(spark: SparkSession, path: String, bsg: DataFrame,
      numHashes: Int, rowsPerBand: Int, threshold: Double,
      nBuckets: Int, nDocBuckets: Int,
      maxBucket: Option[Int] = None,
      precomputedBands: Option[DataFrame] = None,
      precomputedHit: Option[Array[Long]] = None): (DataFrame, DataFrame) = {
    // precomputedBands: ingestBatch's cached fingerprinted band frame,
    // shared with its upsert and released by it; the self-built fallback
    // below is probe-scoped and released here
    val ownsBb = precomputedBands.isEmpty
    val bb = precomputedBands match {
      case Some(pre) =>
        pre.select(col("doc_id").as("db"), col("band"), col("bh"))
      case None =>
        Dedup.signatureBands(Dedup.minhashSignatures(bsg, numHashes),
            numHashes, rowsPerBand)
          .toDF("db", "band", "bh")
          .cache()
    }
    // ≤ nBuckets values by construction; ingestBatch precomputes this set
    // in its one batch-stats job
    val hit = precomputedHit.getOrElse(
      bb.select(bucketOf(col("bh"), nBuckets).as("wb")).distinct()
        .collect().map(_.getLong(0)))
    // wb = bh mod nBuckets, so every member of a hit (band, bh) bucket is
    // inside the pruned read — the capped branch's population counts see
    // the FULL bucket membership
    val cbAll = index(path).read(spark)
      .filter(col("wb").isin(hit: _*))
    // capped: [[Dedup.incrementalDupPairsCapped]]'s corpus-side cap served
    // from the index (IDENTICAL output when nothing is hot — the q177
    // oracle gate); the collect below that materializes cand observes it
    val cand = maxBucket.map(Dedup.cappedBatchCandidates(
      cbAll.select(col("doc_id"), col("fp"), col("band"), col("bh")), bb, _,
      "lsh-cap-idx")).getOrElse(
      cbAll.select(col("doc_id").as("da"), col("band"), col("bh"))
        .join(bb, Seq("band", "bh"))
        .select(col("da"), col("db")).distinct()).cache()
    // ≤ nDocBuckets values by construction
    val dHit = cand.select(bucketOf(col("da"), nDocBuckets).as("dbk"))
      .distinct().collect().map(_.getLong(0))
    // cand is materialized by the collect above, so bb is dead: release it
    // unless the caller owns it (per-batch probes must not accumulate caches)
    if (ownsBb) bb.unpersist()
    val csg = index(path).readData(spark)
      .filter(col("dbk").isin(dHit: _*))
      .select(col("doc_id").as("da"), col("sg").as("sga"))
    val j = TextFunctions.jaccard(col("sga"), col("sgb"))
    // da =!= db: inert for a fresh batch (ids disjoint from the index) but
    // keeps a foreachBatch RETRY — whose batch is already indexed — from
    // emitting self-pairs
    (cand.join(csg, "da")
      .join(bsg.select(col("doc_id").as("db"), col("sg").as("sgb")), "db")
      .filter(col("da") =!= col("db") && j >= threshold)
      .select(round(j, 4).as("jr"), col("da"), col("db")), cand)
  }

  /** The full ingest step a streaming crawl loop runs per batch: PROBE the
    * arriving docs against the index, then FOLD them in, with one
    * shingle/signature pass for both. Returns the verified pairs against
    * the PRE-upsert index, checkpointed before the upsert mutates the
    * partitions the probe reads; the first batch on an empty index
    * bulk-builds and returns no pairs. The probe runs hot-bucket-CAPPED
    * (`maxBucket`): a long-running ingest is where boilerplate clusters
    * accumulate (identical output while no bucket is hot — the q145
    * oracle). */
  def ingestBatch(spark: SparkSession, path: String, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, nBuckets: Int = 16,
      nDocBuckets: Int = 16, maxBucket: Int = 64): DataFrame = {
    if (!index(path).hasData(spark)) {
      writeSignatureIndex(batch, path, n, numHashes, rowsPerBand,
        nBuckets, nDocBuckets)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "jr double, da bigint, db bigint"))
    }
    index(path).requirePin(spark,
      configOf(n, numHashes, rowsPerBand, nBuckets, nDocBuckets))
    val bsg = Dedup.shingleSets(batch, n).cache()
    // ONE minhash/banding pass per micro-batch: the fingerprinted band
    // rows serve both the probe and the upsert
    val fpBands = bands(bsg, numHashes, rowsPerBand).cache()
    try {
      // ONE batch-stats job per micro-batch materializes both caches:
      // duplicate-id validation (before any probe work or index read), the
      // upsert's doc buckets and the probe's band buckets
      val stats = bsg.agg(lit(0).as("tag"), count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("nd"),
          collect_set(bucketOf(col("doc_id"), nDocBuckets)).as("bks"))
        .unionByName(fpBands.agg(lit(1).as("tag"), lit(0L).as("n"),
          lit(0L).as("nd"),
          collect_set(bucketOf(col("bh"), nBuckets)).as("bks")))
        .collect()
      val batchRow = stats.find(_.getInt(0) == 0).get
      require(batchRow.getLong(1) == batchRow.getLong(2),
        "batch contains duplicate doc_id rows — collapse re-crawls to one " +
          "row per doc before indexing")
      val dbkHit = batchRow.getSeq[Long](3)
      val wbHit = stats.find(_.getInt(0) == 1).get.getSeq[Long](3).toArray
      // the ingest loop is the 100 TB path — capped by default: a corpus
      // that has accumulated a boilerplate cluster must not quadratic-fan
      // every matching batch doc (q175's bound, served from the index)
      val (plan, cand) = probeCore(spark, path, bsg,
        numHashes, rowsPerBand, threshold, nBuckets, nDocBuckets,
        Some(maxBucket), Some(fpBands), Some(wbHit))
      val pairs = plan
        // the probe's output, pinned before the upsert rewrites the
        // shingle buckets its plan reads
        .localCheckpoint(true)
      // pairs is fully materialized — release the candidate cache so a
      // long-running foreachBatch ingest loop doesn't accumulate one
      // CacheManager entry per micro-batch
      cand.unpersist()
      index(path).upsert(dedupWrite(bsg, fpBands, n, numHashes, rowsPerBand,
        nBuckets, nDocBuckets, owned = Nil), Some(dbkHit))
      pairs
    } finally { fpBands.unpersist(); bsg.unpersist() }
  }
}
