package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index — the FAISS `IndexIVFPQ` architecture re-expressed
  * as partitioned parquet + Catalyst expressions: the coarse quantizer
  * ([[Similarity]]'s spherical k-means lists) routes each vector to a
  * `list_id` partition, and what the partition STORES is the vector's
  * [[Pq]] code (m small ints, 8 B at m=8/k=16) instead of the raw
  * embedding (256 B at dim=64) — so a probe's candidate-generation scan
  * reads ~32× less data than the plain IVF index for the same list
  * pruning. Exact re-rank vectors live in a separate id-bucketed refine
  * table (`<path>_refine`, partitioned by `dbk = id mod nDocBuckets`), the
  * index's copy-on-write data table: one row per id, read raw by
  * point lookups.
  *
  * Probe = three bounded stages, each pruned at the file index:
  *   1. ADC candidate gen over the probed lists' code partitions
  *      (PartitionFilters on `list_id`; scoring is [[Pq.adcScoreExpr]] —
  *      m literal-table lookups inside whole-stage codegen, cut to
  *      `rerank` rows by TakeOrderedAndProject);
  *   2. a ≤`rerank`-row candidate-id collect (capped, PlanSpec-bounded);
  *   3. exact-cosine re-rank against a POINT-LOOKUP read of the refine
  *      table (PartitionFilters on `dbk` — the candidates' buckets only,
  *      never a full-table scan).
  * At 100 TB that is: read nProbe/nLists of an already-32×-compressed
  * code table, then fetch `rerank` vectors by key — the serving shape
  * memory-bounded ANN actually deploys (Jégou/Douze/Schmid, TPAMI 2011).
  * Reference analogue: the Chroma collection the reference serves ANN
  * from (scripts/scrape_store_embed.py) keeps a compressed in-memory
  * index; IVF-PQ is that index durable and partition-pruned.
  *
  * Writes go through [[BucketedIndex]] (pin-last): codes merge-on-read,
  * refine buckets copy-on-write. The pin covers everything that changes
  * routing or stored bytes: centroid bits, codebook bits, and the refine
  * table's nDocBuckets, which a probe reads back from it.
  */
object IvfPq {

  /** Build the index: codes partitioned by assigned list, full vectors
    * id-bucketed for re-rank point lookups, config pinned last. */
  def writeIvfPqIndex(vecs: DataFrame, embCol: String, idCol: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      path: String, nDocBuckets: Int = 16): Unit =
    index(path).build(pqWrite(vecs, embCol, idCol, cents, books, nDocBuckets))

  /** Fold a (re-)crawled batch in ([[BucketedIndex.upsert]] with lists as
    * the main partitions): a re-crawled doc's changed embedding may have
    * moved lists AND always changes its stored code, so the batch's id
    * tombstones retire its old code wherever it is, and the refine
    * table's row is replaced in its (id-stable) bucket. Per-batch cost
    * scales with the batch and its refine buckets, never the codes table. */
  def upsertIvfPqIndex(newVecs: DataFrame, embCol: String, idCol: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      path: String, nDocBuckets: Int = 16): Unit =
    index(path).upsert(pqWrite(newVecs, embCol, idCol, cents, books,
      nDocBuckets))

  private[graft] def index(path: String) = BucketedIndex("IVF-PQ", path,
    path, Seq("list_id"), path + "_meta", "writeIvfPqIndex",
    "centroids, codebooks, or doc-bucket geometry",
    data = Some((path + "_refine", "dbk")))

  /** The batch's rows: codes by list (main), full vectors by doc bucket
    * (refine). The fused id validation runs over the cached `assigned`,
    * so the same job also fills the encode pass's cache. */
  private def pqWrite(vecs: DataFrame, embCol: String, idCol: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      nDocBuckets: Int): BucketedIndex.Write = {
    val assigned = assign(vecs, embCol, idCol, cents, books, nDocBuckets)
      .cache()
    BucketedIndex.Write(config(cents, books, nDocBuckets), idCol,
      Some(assigned),
      main = assigned.select(col(idCol), col("codes"), col("list_id")),
      data = Some(assigned.select(col(idCol), col("list_id"), col(embCol),
        col("dbk"))),
      owned = Seq(assigned))
  }

  /** ADC candidate gen over the probed lists + exact re-rank via refine
    * point lookups. Output schema matches the exact rankers: (id, sim). */
  def probeIvfPqIndex(spark: SparkSession, path: String, embCol: String,
      idCol: String, query: Array[Float], k: Int, probes: Seq[Int],
      books: Array[Array[Array[Double]]], rerank: Int): DataFrame = {
    // the collect below is rerank-bounded; cap it so a caller can't turn
    // the point lookup into a data-sized collect
    require(rerank > 0 && rerank <= 1024,
      s"rerank=$rerank out of range (candidate ids are collected)")
    // ADC scores against other lookup tables would be meaningless; the
    // stored pin also gives the refine table's doc-bucket modulus
    val stored = index(path).requirePin(spark,
      Map("codebooks" -> booksFingerprint(books)))
    val qn = {
      val q = query.map(_.toDouble)
      val n = math.sqrt(q.map(x => x * x).sum)
      if (n == 0.0) q else q.map(_ / n)
    }
    val lut = Pq.adcLut(qn, books)
    // ≤ rerank (id, dbk) rows — the point-lookup key set
    val cand = adcCandidates(spark, path, idCol, probes, lut, rerank,
      stored("nDocBuckets").toLong).collect()
    val ids = cand.map(_.get(0): Any).toSeq
    val dbks = cand.map(_.getLong(1)).distinct.toSeq
    val qv = array(query.map(lit): _*)
    index(path).readData(spark)
      .filter(col("dbk").isInCollection(dbks) &&
        col(idCol).isInCollection(ids))
      .select(col(idCol),
        round(graft.functions.CosineSimilarity(col(embCol), qv), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** The ADC candidate-gen leg, factored out so the spec can assert its
    * `list_id` filter lands as a PARTITION filter (file-index pruning —
    * at scale this scan reads nProbe/nLists of an already-compressed
    * table, never all of it). */
  private[graft] def adcCandidates(spark: SparkSession, path: String,
      idCol: String, probes: Seq[Int], lut: Array[Array[Double]],
      rerank: Int, nDocBuckets: Long): DataFrame =
    index(path).read(spark)
      .filter(col("list_id").isInCollection(probes))
      .select(col(idCol), Pq.adcScoreExpr(col("codes"), lut).as("__adc"))
      .orderBy(col("__adc").desc, col(idCol)).limit(rerank)
      .select(col(idCol),
        pmod(col(idCol), lit(nDocBuckets)).as("dbk"))

  /** A batch's full index row set: id, codes, assigned list, doc bucket.
    * Codes encode the NORMALIZED vector (ADC dots then approximate
    * cosine); the refine table keeps the raw embedding. The norm is
    * hoisted into its own column so it is computed once per row, not
    * once per codeword (Pq's codegen note). */
  private def assign(vecs: DataFrame, embCol: String, idCol: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      nDocBuckets: Int): DataFrame = {
    val dim = books.length * books(0)(0).length
    vecs.withColumn("__pqn", Pq.vecNorm(col(embCol), dim))
      .select(col(idCol), col(embCol),
        Similarity.nearestListExpr(col(embCol), cents).as("list_id"),
        Pq.encodeExpr(col(embCol), col("__pqn"), books).as("codes"),
        pmod(col(idCol), lit(nDocBuckets.toLong)).as("dbk"))
  }

  private def booksFingerprint(books: Array[Array[Array[Double]]]): String =
    books.map(PartitionedIndexOps.matrixFingerprint).mkString("|")

  private def config(cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      nDocBuckets: Int): Map[String, String] =
    Map("nDocBuckets" -> nDocBuckets.toString,
      "centroids" -> PartitionedIndexOps.matrixFingerprint(cents),
      "codebooks" -> booksFingerprint(books))
}
