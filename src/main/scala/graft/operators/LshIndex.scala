package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted random-hyperplane LSH index — the durable form of
  * [[Similarity.annTopK]]'s inline bucketing, completing the promise in
  * that scaladoc: vectors land in `bucket=` partitions (sign bits
  * against the pinned hyperplanes), so a probe reads its own bucket
  * plus the hamming-`radius` neighborhood as PARTITION PRUNING at the
  * file index — (numPlanes+1)/2^numPlanes of the data at radius 1 —
  * instead of re-bucketing the corpus per query. The third persisted
  * ANN family beside [[Similarity]]'s IVF and [[IvfPq]]; all three
  * write through [[BucketedIndex]] and compact through
  * [[PartitionedIndexOps]].
  *
  * Re-crawls: a changed embedding usually flips sign bits and MOVES
  * buckets, so the stale vector must leave its old bucket — which is not
  * recomputable from the new vector, so the batch's id tombstones retire
  * it wherever it is (Chroma's delete-then-add upsert,
  * scripts/scrape_store_embed.py:79-86, as [[BucketedIndex]]'s
  * merge-on-read).
  *
  * The pin holds the plane bits (every table's, in order, for the
  * multi-table form) and the payload columns; upserts check all of it,
  * probes the planes ([[BucketedIndex.requirePin]]).
  */
object LshIndex {

  /** Build: vectors partitioned by sign-bit bucket, hyperplanes pinned
    * last. `keepCols`
    * carries payload columns beyond (id, emb) into the index rows (e.g.
    * a label for contrastive mining) — pinned, so an upsert built with
    * different payload columns fails fast instead of writing a ragged
    * schema. */
  def writeLshIndex(vecs: DataFrame, embCol: String, idCol: String,
      planes: Array[Array[Double]], path: String,
      keepCols: Seq[String] = Nil): Unit =
    index(path).build(lshWrite(vecs, embCol, idCol, planes, keepCols))

  /** Fold a (re-)crawled batch in: [[BucketedIndex.upsert]] with sign-bit
    * buckets as the main partitions. Cost ∝ batch spread. */
  def upsertLshIndex(newVecs: DataFrame, embCol: String, idCol: String,
      planes: Array[Array[Double]], path: String,
      keepCols: Seq[String] = Nil): Unit =
    index(path).upsert(lshWrite(newVecs, embCol, idCol, planes, keepCols))

  private[graft] def index(path: String) = BucketedIndex("LSH", path, path,
    Seq("bucket"), path + "_meta", "writeLshIndex",
    "hyperplanes or payload columns")

  /** The batch's rows by sign-bit bucket; ids validate and tombstone on
    * the input itself. */
  private def lshWrite(vecs: DataFrame, embCol: String, idCol: String,
      planes: Array[Array[Double]],
      keepCols: Seq[String]): BucketedIndex.Write =
    BucketedIndex.Write(
      planesPin(planes) + ("keepCols" -> keepCols.mkString(",")), idCol,
      Some(vecs), main = vecs.select((Seq(idCol, embCol) ++ keepCols)
        .map(col) :+ Similarity.bucketExpr(col(embCol), planes)
        .as("bucket"): _*))

  /** Probe: exact cosine within the query's bucket and its
    * hamming-`radius` neighborhood — pruned at the file index. radius ≥
    * numPlanes probes every bucket (exact search, the oracle config). */
  def probeLshIndex(spark: SparkSession, path: String, embCol: String,
      idCol: String, query: Array[Float], k: Int,
      planes: Array[Array[Double]], radius: Int = 1): DataFrame = {
    index(path).requirePin(spark, planesPin(planes))
    val nb = planes.length
    // the probe-set enumeration is 2^numPlanes driver-side — cap it (an
    // LSH index with more planes than this has ~1-row buckets anyway)
    require(nb <= 20, s"numPlanes=$nb too large to enumerate probe sets")
    val qb = queryBucket(query, planes)
    val probes = (0L until (1L << nb))
      .filter(b => java.lang.Long.bitCount(b ^ qb) <= radius)
    val qv = array(query.map(lit): _*)
    index(path).read(spark)
      .filter(col("bucket").isInCollection(probes))
      .select(col(idCol),
        round(graft.functions.CosineSimilarity(col(embCol), qv), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch-serve index candidates for a WHOLE anchor frame — the pair-
    * mining / feature-lookup shape (each anchor needs its bucket plus the
    * hamming-`radius` neighborhood): one pruned index read + one
    * broadcast join, never a per-anchor probe loop. The anchors'
    * buckets are computed by the same pinned-plane expression the index
    * was built under; the union of probe buckets is a bounded driver
    * read (≤ 2^numPlanes values by construction — the [[probeLshIndex]]
    * enumeration bound) that lands as a PartitionFilter on the scan, and
    * the per-anchor bucket→anchor assignment rides the broadcast join.
    * radius ≥ numPlanes serves every bucket (exact candidates — the
    * oracle configuration); small radii trade recall for reading
    * ~Σ_r C(numPlanes, r)/2^numPlanes of the index per anchor.
    * Returns index rows joined with their requesting anchor's columns.
    *
    * The probe cache stays PINNED by design (the returned plan reads it
    * lazily); a long-running service probing per anchor batch should use
    * [[batchProbeManaged]], whose [[ProbeHandle]] releases it. */
  def batchProbe(spark: SparkSession, path: String, anchors: DataFrame,
      anchorEmbCol: String, planes: Array[Array[Double]],
      radius: Int = 1): DataFrame =
    batchProbeManaged(spark, path, anchors, anchorEmbCol, planes,
      radius).result

  /** [[batchProbe]] with cache ownership: `close()` the returned handle
    * after materializing the result and the probe cache is released —
    * the ingestBatch-style companion the bare variant deliberately
    * lacks. */
  def batchProbeManaged(spark: SparkSession, path: String,
      anchors: DataFrame, anchorEmbCol: String,
      planes: Array[Array[Double]], radius: Int = 1): ProbeHandle = {
    index(path).requirePin(spark, planesPin(planes))
    val nb = planes.length
    require(nb <= 20, s"numPlanes=$nb too large to enumerate probe sets")
    // ONE relation serves both the collision check (schema) and the probe
    // scan — a separate read for the check would double the
    // partition-tree file listing on every serving-path call
    val idx = index(path).read(spark)
    requireNoCollisions(idx, anchors, path)
    // masks stay VALUES (one exploded literal array, one XOR) — building
    // one expression child per mask would put 2^numPlanes Catalyst nodes
    // in a single projection at the full-radius oracle configuration
    val masks = (0L until (1L << nb))
      .filter(m => java.lang.Long.bitCount(m) <= radius)
    // cached: the frame is read twice (driver bucket-set collect + the
    // broadcast join side) and the two evaluations MUST agree — an anchor
    // pipeline that recomputes differently (sample/limit without a
    // defining order) would silently drop candidates whose buckets fell
    // outside the first collect. The handle owns the cache; via the bare
    // [[batchProbe]] it stays pinned like probeIndex's bare-probe caches
    // ([[DedupIndex]]) — the returned plan reads it lazily.
    val probes = anchors
      .withColumn("__b0", Similarity.bucketExpr(col(anchorEmbCol), planes))
      .withColumn("__m", explode(typedLit(masks)))
      .withColumn("bucket", col("__m").bitwiseXOR(col("__b0")))
      .drop("__b0", "__m")
      .cache()
    // ≤ 2^numPlanes values by construction (numPlanes <= 20)
    val hit = probes.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    new ProbeHandle(
      idx.filter(col("bucket").isInCollection(hit))
        .join(broadcast(probes), Seq("bucket")),
      Seq(probes))
  }

  /** Fail fast on anchor frames whose column names collide with the probe
    * machinery or the index schema — `bucket` would be silently
    * overwritten by the probe's withColumn, and an anchor column named
    * like an index column (idCol/embCol/keepCols) would come out of the
    * join as an ambiguous duplicate that only fails (or mis-resolves)
    * downstream. Mirrors the fail-fast style of the config-pin guards.
    * Takes the already-opened index relation so the schema check shares
    * its file listing with the probe scan. */
  private def requireNoCollisions(idx: DataFrame, anchors: DataFrame,
      path: String): Unit = {
    val reserved = Set("bucket", "__b0", "__m")
    val idxCols = idx.schema.fieldNames.toSet
    val clash = anchors.columns.toSet & (reserved ++ idxCols)
    require(clash.isEmpty,
      s"anchor frame columns $clash collide with the probe machinery " +
        "(bucket/__b0/__m) or the index schema at " + path +
        " — rename them before probing (the join would produce " +
        "ambiguous or silently overwritten columns)")
  }

  // ------------------------------------------------------------------
  // Multi-table (OR-amplification) variant
  // ------------------------------------------------------------------

  /** Multi-table build: L INDEPENDENT plane sets, each vector stored once
    * per table under `tbl=t/bucket=b` partitions (storage ×L — the
    * OR-amplification trade). A probe then reads exactly ONE bucket per
    * table and candidate recall is 1 − Π_t (1 − p^numPlanes) — it stops
    * depending on one table's hamming radius, which is how FAISS/Chroma-
    * style LSH holds recall at a fixed read fraction (reference:
    * scripts/vector_db/chroma.sqlite3 ANN segment; the single-table
    * radius ladder above trades recall for Σ_r C(n,r)/2^n reads instead).
    * ONE scan of the input: the L bucket ids compute as an array and
    * posexplode into (tbl, bucket) rows. The pin stores every table's
    * plane fingerprint, so probing under different or reordered plane
    * sets fails fast. */
  def writeMultiLshIndex(vecs: DataFrame, embCol: String, idCol: String,
      planeSets: Seq[Array[Array[Double]]], path: String,
      keepCols: Seq[String] = Nil): Unit = {
    require(planeSets.nonEmpty, "need at least one plane set")
    multiIndex(path).build(multiWrite(vecs, embCol, idCol, planeSets,
      keepCols))
  }

  /** Fold a (re-)crawled batch into a multi-table index — the
    * [[upsertLshIndex]] merge with (tbl, bucket) partition pairs. Per-batch
    * cost ∝ batch × L rows appended. */
  def upsertMultiLshIndex(newVecs: DataFrame, embCol: String, idCol: String,
      planeSets: Seq[Array[Array[Double]]], path: String,
      keepCols: Seq[String] = Nil): Unit =
    multiIndex(path).upsert(multiWrite(newVecs, embCol, idCol, planeSets,
      keepCols))

  private[graft] def multiIndex(path: String) = BucketedIndex(
    "multi-table LSH", path, path, Seq("tbl", "bucket"), path + "_meta",
    "writeMultiLshIndex", "plane sets or payload columns")

  /** L rows per vector, one per (tbl, bucket); ids validate and tombstone
    * on the input, which holds one row per id. */
  private def multiWrite(vecs: DataFrame, embCol: String, idCol: String,
      planeSets: Seq[Array[Array[Double]]],
      keepCols: Seq[String]): BucketedIndex.Write = {
    // native literal-table expression, NOT array(bucketExpr…): the
    // composed form is L×planes×dim Catalyst nodes and overflows the
    // 64 KB codegen limit at realistic table counts (interpreted
    // fallback) — see [[graft.functions.LshBuckets]]
    val buckets = graft.functions.LshBuckets(col(embCol), planeSets)
    BucketedIndex.Write(multiPin(planeSets) ++ Map(
        "tables" -> planeSets.length.toString,
        "keepCols" -> keepCols.mkString(",")), idCol,
      Some(vecs), main = vecs.select((Seq(idCol, embCol) ++ keepCols)
        .map(col) :+ posexplode(buckets).as(Seq("tbl", "bucket")): _*))
  }

  /** Single-query probe of a multi-table index: the L per-table buckets
    * resolve driver-side, land as ONE partition filter (an OR of per-table
    * bucket equalities over partition columns only — pruned at the file
    * index, ~L/2^numPlanes of the index read), copies of a vector found
    * by several tables collapse before scoring, exact cosine on the
    * candidates. */
  def probeMultiLsh(spark: SparkSession, path: String, embCol: String,
      idCol: String, query: Array[Float], k: Int,
      planeSets: Seq[Array[Array[Double]]]): DataFrame = {
    multiIndex(path).requirePin(spark, multiPin(planeSets))
    val pred = planeSets.zipWithIndex.map { case (p, t) =>
      col("tbl") === lit(t) && col("bucket") === lit(queryBucket(query, p))
    }.reduce(_ || _)
    val qv = array(query.map(lit): _*)
    multiIndex(path).read(spark)
      .filter(pred)
      .dropDuplicates(Seq(idCol))
      .select(col(idCol),
        round(graft.functions.CosineSimilarity(col(embCol), qv), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch candidates for a whole anchor frame against a multi-table
    * index — the [[batchProbeManaged]] shape with (tbl, bucket) join keys
    * and NO radius: amplification comes from the table union. The ≤
    * anchors×L probe pairs collect driver-side, group into an OR of
    * per-table `isInCollection`s over partition columns only (file-index
    * pruning), and the per-anchor assignment rides the broadcast join.
    * Returns one row per (anchor, index row, table) hit — callers wanting
    * set semantics dedupe on (anchor id, idCol). `close()` the handle
    * after materializing. */
  def batchProbeMultiManaged(spark: SparkSession, path: String,
      anchors: DataFrame, anchorEmbCol: String,
      planeSets: Seq[Array[Array[Double]]]): ProbeHandle = {
    multiIndex(path).requirePin(spark, multiPin(planeSets))
    // one relation for both the collision check and the probe scan
    // (requireNoCollisions rejects anchor 'tbl'/'bucket' columns — both
    // are in the index schema)
    val idx = multiIndex(path).read(spark)
    requireNoCollisions(idx, anchors, path)
    val buckets = graft.functions.LshBuckets(col(anchorEmbCol), planeSets)
    // cached for the same two-evaluations-must-agree reason as batchProbe
    val probes = anchors
      .select(anchors.columns.map(col) :+
        posexplode(buckets).as(Seq("tbl", "bucket")): _*)
      .cache()
    val hit = probes.select(col("tbl"), col("bucket")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // empty anchor frame (idle serving tick): no per-table terms to OR —
    // serve the empty result through the same plan shape
    val pred =
      if (hit.isEmpty) lit(false)
      else hit.groupBy(_._1).toSeq.map { case (t, bs) =>
        col("tbl") === lit(t) &&
          col("bucket").isInCollection(bs.map(_._2).toSeq)
      }.reduce(_ || _)
    new ProbeHandle(
      idx.filter(pred).join(broadcast(probes), Seq("tbl", "bucket")),
      Seq(probes))
  }

  /** Query-directed multi-probe bucket list for ONE table: the exact
    * sign-bit bucket plus single-bit flips of the `nProbes − 1` planes
    * with the smallest |dot(plane, v)| margin — the FAISS/multi-probe-LSH
    * observation that a near neighbor missing the exact bucket most
    * likely differs in the query's least-confident bit. Probing T buckets
    * per table trades probes for TABLES at fixed recall: L/2 tables at
    * T = 2 reads the same bucket count as L tables at T = 1 while halving
    * the index's storage amplification (the q176 eval row measures the
    * trade). Driver-side by design — the probe set is per-query metadata,
    * like [[queryBucket]]. */
  private[operators] def multiProbeBuckets(v: Array[Float],
      planes: Array[Array[Double]], nProbes: Int): Seq[Long] = {
    val dots = planes.map(p =>
      v.zip(p).map { case (x, h) => x.toDouble * h }.sum)
    val base = dots.zipWithIndex
      .map { case (d, i) => if (d >= 0) 1L << i else 0L }.reduce(_ | _)
    val flips = dots.zipWithIndex.sortBy { case (d, _) => math.abs(d) }
      .take(math.max(0, nProbes - 1) min planes.length)
      .map { case (_, i) => base ^ (1L << i) }
    base +: flips.toSeq
  }

  /** Batch multi-probe against a multi-table index for a DRIVER-SIDE
    * anchor list — the [[batchProbeMultiManaged]] read shape (one pruned
    * scan + broadcast probe join) with `probesPerTable` buckets per
    * (anchor, table) instead of one. Anchors are passed as collected
    * (id, vector) pairs because the probe set is query metadata computed
    * driver-side (the [[multiProbeBuckets]] margin sort); callers own the
    * bound, as with the eval harnesses' model-sized query batches.
    * Returns one row per (anchor, index row, table-probe) hit with the
    * anchor id as `qid` — per-anchor row counts are that anchor's solo
    * multi-probe read. */
  def batchProbeMultiProbed(spark: SparkSession, path: String,
      anchors: Seq[(Long, Array[Float])],
      planeSets: Seq[Array[Array[Double]]],
      probesPerTable: Int = 2): DataFrame = {
    multiIndex(path).requirePin(spark, multiPin(planeSets))
    require(anchors.nonEmpty, "need at least one anchor")
    require(anchors.size <= 4096,
      s"${anchors.size} anchors — the probe set collects driver-side; " +
        "batch model-sized anchor sets (≤ 4096)")
    val probePairs = for {
      (qid, v) <- anchors
      (planes, t) <- planeSets.zipWithIndex
      b <- multiProbeBuckets(v, planes, probesPerTable)
    } yield (qid, t, b)
    import spark.implicits._
    val probes = probePairs.toDF("qid", "tbl", "bucket")
      .dropDuplicates("qid", "tbl", "bucket")
    val pred = probePairs.groupBy(_._2).toSeq.map { case (t, ps) =>
      col("tbl") === lit(t) &&
        col("bucket").isInCollection(ps.map(_._3).distinct)
    }.reduce(_ || _)
    multiIndex(path).read(spark)
      .filter(pred)
      .join(broadcast(probes), Seq("tbl", "bucket"))
  }

  /** The pin keys a probe routes by: the plane bits (one table). */
  private def planesPin(planes: Array[Array[Double]]): Map[String, String] =
    Map("planes" -> PartitionedIndexOps.matrixFingerprint(planes))

  /** Every table's plane bits, in table order: count, order and geometry. */
  private def multiPin(
      planeSets: Seq[Array[Array[Double]]]): Map[String, String] =
    Map("planes" ->
      planeSets.map(PartitionedIndexOps.matrixFingerprint).mkString("|"))

  private def queryBucket(v: Array[Float],
      planes: Array[Array[Double]]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = v.zip(p).map { case (x, h) => x.toDouble * h }.sum
      if (dot >= 0) 1L << i else 0L
    }.reduce(_ | _)
}
