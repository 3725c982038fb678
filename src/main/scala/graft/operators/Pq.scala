package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou/Douze/Schmid, TPAMI 2011) — the
  * memory-bounded ANN serving path the IVF/LSH family lacks: each vector
  * splits into `m` subvectors, each subvector is quantized to one of `k`
  * per-subspace codewords, and the stored representation shrinks from
  * `dim` floats to `m` small ints (dim=64, m=8, k=16: 256 B → 8 B, 32×).
  * Queries score codes by ASYMMETRIC DISTANCE (ADC): the query precomputes
  * one `m × k` lookup table of subvector dot products, so scoring a
  * vector is `m` table lookups + adds — never a full-dim dot — and the
  * usual production recipe re-ranks the ADC top-`rerank` candidates with
  * exact scores. Reference analogue: the Chroma collection the reference
  * stores embeddings in serves ANN from a compressed in-memory index
  * (scripts/scrape_store_embed.py); PQ is how such an index fits RAM when
  * the corpus does not.
  *
  * 100 TB shape: codebooks are an `m × k × subDim` driver-side constant
  * (like IVF centroids — train on a sample; a codebook is a model, not a
  * scan product), encoding is a pure per-row expression (stored with the
  * index, computed once at ingest), and ADC scoring is expression-only
  * over literal tables, cut by TakeOrderedAndProject.
  *
  * CODEGEN NOTE (the WordNgrams lesson, PERF.md): every dot/norm here is
  * FLAT `element_at` arithmetic over literal weights, never
  * `aggregate`/`zip_with`/`transform` lambdas — higher-order functions
  * are CodegenFallback (interpreted per row), which made the original
  * formulation ~30× slower (q150 163 s → seconds at sf0.1). The flat
  * left-to-right sums are bit-identical to the old fold (IEEE:
  * 0.0 + a == a), so codebooks, codes, and every oracle hash are
  * unchanged. The per-row vector norm is hoisted into its OWN column by
  * callers ([[vecNorm]]) so the 64-term sum is computed once per row,
  * not once per codeword — Catalyst's CollapseProject keeps the
  * projection boundary because the reference is non-cheap.
  */
object Pq {

  /** Flat dot of an array slice (0-based `off`, 1-based element_at)
    * against a literal codeword, each element divided by `norm` first —
    * the old "normalize, then dot" order, so sums are bit-identical. */
  private def dotNormAt(emb: Column, norm: Column, off: Int,
      c: Array[Double]): Column =
    c.indices.map { d =>
      (element_at(emb, off + d + 1).cast("double") / norm) * lit(c(d))
    }.reduce(_ + _)

  private def dotFlat(sv: Column, c: Array[Double]): Column =
    c.indices.map { d =>
      element_at(sv, d + 1).cast("double") * lit(c(d))
    }.reduce(_ + _)

  /** Guarded L2 norm of a float-array column (zero vectors → 1, so the
    * downstream division is a no-op — the old normalizedExpr contract).
    * Compute ONCE per row (withColumn) and pass into [[encodeExpr]]. */
  def vecNorm(emb: Column, dim: Int): Column = {
    val n = sqrt((0 until dim).map { d =>
      val x = element_at(emb, d + 1).cast("double"); x * x
    }.reduce(_ + _))
    when(n === 0.0, lit(1.0)).otherwise(n)
  }

  /** Unit-normalize a float-array column; zero vectors pass through. */
  def normalizedExpr(emb: Column, dim: Int): Column = {
    val n = vecNorm(emb, dim)
    array((0 until dim).map(d =>
      element_at(emb, d + 1).cast("double") / n): _*)
  }

  /** argmin_c ||x − c||² == argmax_c (x·c − ||c||²/2); deterministic
    * tiebreak (highest code wins — the [[Similarity.nearestListExpr]]
    * convention). Operates on a materialized (sub)vector array. */
  private def nearestCodeExpr(sv: Column,
      book: Array[Array[Double]]): Column =
    greatest(book.zipWithIndex.map { case (c, i) =>
      struct(dotFlat(sv, c) - lit(c.map(x => x * x).sum / 2), lit(i))
    }: _*).getField("col2")

  /** Per-subspace k-means codebooks, `m × k × (dim/m)`. Deterministic:
    * init = the k lowest-id rows' subvectors (ONE collect of those rows,
    * sliced per subspace on the driver), then `iters` rounds of
    * assign + Summarizer.mean (one mean row per occupied code — the
    * [[Similarity.listMeans]] shape, never k × dim scalar rows). Driver
    * holds m·k·subDim = dim·k doubles — a model constant. At 100 TB train
    * on a bounded sample; codebook quality needs representative data, not
    * all of it. */
  def trainCodebooks(vecs: DataFrame, embCol: String, idCol: String,
      m: Int, k: Int, iters: Int = 2): Array[Array[Array[Double]]] = {
    require(k > 0 && k <= 256, s"k=$k out of range (codes are small ints)")
    // k-row init collect (codebook seed), bounded by k <= 256
    val seed = vecs.orderBy(col(idCol)).limit(k)
      .select(col(embCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0))
    require(seed.nonEmpty, "no vectors to train codebooks on")
    val dim = seed.head.length
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    Array.tabulate(m) { j =>
      val sub = vecs.select(col(idCol).as("id"),
        array((0 until subDim).map(d =>
          element_at(col(embCol), j * subDim + d + 1).cast("double")): _*)
          .as("sv"))
      var book: Array[Array[Double]] =
        seed.map(_.slice(j * subDim, (j + 1) * subDim).toArray)
      for (_ <- 1 to iters) {
        // one mean-vector row per occupied code, <= k rows
        val means = sub
          .select(nearestCodeExpr(col("sv"), book).as("code"),
            org.apache.spark.ml.functions.array_to_vector(col("sv")).as("v"))
          .groupBy(col("code"))
          .agg(org.apache.spark.ml.stat.Summarizer.mean(col("v")).as("mv"))
          .collect()
        val next = Array.tabulate(book.length)(i => book(i).clone())
        means.foreach { r =>
          next(r.getInt(0)) =
            r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray
        }
        book = next
      }
      book
    }
  }

  /** Encode a raw vector to its `m` nearest-codeword ids over the
    * NORMALIZED vector (ADC dots then approximate cosine) — the stored
    * index representation, computed at ingest. Served by the native
    * [[graft.functions.PqEncode]] expression: the composed
    * array-of-greatest form ([[encodeExprComposed]], kept for the
    * bit-parity property test) expands to m × k × subDim element_at
    * nodes and overflowed janino at m=8, k=16, dim=64, silently dropping
    * the ENCODE SCAN — index build included — to interpreted eval
    * (measured on q150/q151/q154/q158; the LshBuckets story repeating on
    * the PQ path). Codes are bit-identical between the two forms.
    * `norm` must be [[vecNorm]] hoisted into its own column. */
  def encodeExpr(emb: Column, norm: Column,
      books: Array[Array[Array[Double]]]): Column =
    graft.functions.PqEncode(emb, norm, books)

  /** The pre-native composed encode — the bit-parity reference for
    * [[graft.functions.PqEncode]] (PropertySpec), never the hot path. */
  private[graft] def encodeExprComposed(emb: Column, norm: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val subDim = books(0)(0).length
    array(books.indices.map { j =>
      greatest(books(j).zipWithIndex.map { case (c, i) =>
        struct(dotNormAt(emb, norm, j * subDim, c)
          - lit(c.map(x => x * x).sum / 2), lit(i))
      }: _*).getField("col2")
    }: _*)
  }

  /** The query's ADC table: lut(j)(c) = q_j · book_j(c), computed once
    * driver-side (m·k doubles). */
  def adcLut(query: Array[Double],
      books: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val subDim = books(0)(0).length
    books.zipWithIndex.map { case (book, j) =>
      val qj = query.slice(j * subDim, (j + 1) * subDim)
      book.map(c => c.zip(qj).map { case (a, b) => a * b }.sum)
    }
  }

  /** ADC score of a codes column under a query's lookup table: m literal
    * array lookups summed in fixed subspace order — expression-only,
    * codegen-friendly, no per-row vector math. */
  def adcScoreExpr(codes: Column, lut: Array[Array[Double]]): Column =
    lut.indices.map { j =>
      element_at(array(lut(j).map(lit): _*), element_at(codes, j + 1) + 1)
    }.reduce(_ + _)

  /** PQ ANN top-k with exact re-rank: encode inline (a deployed index
    * stores the codes — [[IvfPq]]), cut to `rerank` candidates by ADC
    * (TakeOrderedAndProject), then exact-cosine re-rank the survivors.
    * Output matches the brute-force ranker's schema (id, sim). */
  def pqTopK(vecs: DataFrame, embCol: String, idCol: String,
      query: Array[Float], k: Int, books: Array[Array[Array[Double]]],
      rerank: Int): DataFrame = {
    val qn = {
      val q = query.map(_.toDouble)
      val n = math.sqrt(q.map(x => x * x).sum)
      if (n == 0.0) q else q.map(_ / n)
    }
    val dim = books.length * books(0)(0).length
    val cand = vecs
      .withColumn("__n", vecNorm(col(embCol), dim))
      .withColumn("__codes", encodeExpr(col(embCol), col("__n"), books))
      .withColumn("__adc", adcScoreExpr(col("__codes"), adcLut(qn, books)))
      .orderBy(col("__adc").desc, col(idCol)).limit(rerank)
    val qv = array(query.map(lit): _*)
    cand.select(col(idCol),
        round(graft.functions.CosineSimilarity(col(embCol), qv), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col(idCol)).limit(k)
  }
}
