package graft

import graft.operators.Pq
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for product quantization (the recall contract is q150's
  * oracle; these pin exactness in the lossless configuration and the
  * stored-code shape). */
class PqSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // 8-dim vectors of 4 one-hot subvectors: each subspace takes one of TWO
  // values, and ids 0/1 (all-e1 / all-e2) put both into the k-row init,
  // so k=4 codewords per subspace quantize LOSSLESSLY — ADC == exact dot
  private def bits(i: Int): Seq[Int] = (0 until 4).map(j => (i >> j) & 1)
  private val vecs = (0 until 16).map { i =>
    // ids 0 and 1 are the all-zeros / all-ones bit patterns
    val b = if (i == 0) Seq(0, 0, 0, 0) else if (i == 1) Seq(1, 1, 1, 1)
            else bits(i)
    (i.toLong, b.flatMap(x => Seq(1f - x, x.toFloat)).toArray)
  }.toDF("vec_id", "embedding")

  test("lossless config: ADC candidates reproduce the exact ranking") {
    val books = Pq.trainCodebooks(vecs, "embedding", "vec_id", m = 4, k = 4)
    val q = Array(1f, 0f, 0f, 1f, 1f, 0f, 0f, 1f)
    val pq = Pq.pqTopK(vecs, "embedding", "vec_id", q, 5, books, rerank = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = vecs.select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"),
          array(q.map(lit): _*)), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // rerank == k: the ADC cut must already be the true top-5, or rows
    // would be missing — this fails if quantization is NOT lossless here
    assert(pq == brute)
  }

  test("stored codes: m small ints, each within [0, k)") {
    val books = Pq.trainCodebooks(vecs, "embedding", "vec_id", m = 4, k = 4)
    val codes = vecs
      .withColumn("__n", Pq.vecNorm(col("embedding"), 8))
      .select(Pq.encodeExpr(col("embedding"), col("__n"), books).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 4)))
  }

  test("normalizedExpr: unit norm for nonzero vectors, zero passes through") {
    val df = Seq((1L, Array(3f, 4f)), (2L, Array(0f, 0f)))
      .toDF("id", "v")
      .select(col("id"), Pq.normalizedExpr(col("v"), 2).as("n"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(math.abs(m(1L).map(x => x * x).sum - 1.0) < 1e-12)
    assert(m(2L) == Seq(0.0, 0.0))
  }

  test("codebook seeding: one collect of the k lowest-id rows, sliced per subspace on the driver") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val (m, k) = (8, 16)
    val prof = new obs.Profile(spark)
    val (books, r) = try prof("pq-seed") {
      Pq.trainCodebooks(e, "embedding", "vec_id", m, k, iters = 0)
    } finally prof.close()
    assert(r.sqlExecutions <= 2, r.json)
    // the per-subspace form it replaces: one ordered limit-k read of each
    // subvector column, which must give the same bits
    val subDim = 64 / m
    val perSubspace = Array.tabulate(m) { j =>
      e.select(col("vec_id").as("id"), array((0 until subDim).map(d =>
          element_at(col("embedding"), j * subDim + d + 1).cast("double")): _*)
          .as("sv"))
        .orderBy(col("id")).limit(k).select(col("sv")).collect()
        .map(_.getSeq[Double](0).toArray)
    }
    assert(books.map(_.map(_.toSeq).toSeq).toSeq ==
      perSubspace.map(_.map(_.toSeq).toSeq).toSeq)
  }
}
