package graft

import graft.operators.{IvfPq, PartitionedIndexOps, Pq, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted IVF-PQ index: pruning on both leg scans, exactness in the
  * lossless probe configuration, re-crawl upsert equivalence to a scratch
  * build, and the config-pin fail-fasts. */
class IvfPqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val e = Tables.embeddings(spark, TestSpark.sf0001).cache()
  private lazy val cents =
    Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 2)
  private lazy val books =
    Pq.trainCodebooks(e, "embedding", "vec_id", m = 8, k = 16)

  private def queryVec(id: Long): Array[Float] =
    e.filter(col("vec_id") === id).select(col("embedding"))
      .head.getSeq[Float](0).toArray

  private def bruteTopK(q: Array[Float], k: Int): Seq[(Long, Double)] = {
    val qv = array(q.map(lit): _*)
    e.select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), qv), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("probe prunes both scans: list_id partitions on codes, dbk buckets on refine") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_prune")
      .resolve("idx").toString
    IvfPq.writeIvfPqIndex(e, "embedding", "vec_id", cents, books, dir)
    val q = queryVec(5)
    val probes = Similarity.probeLists(q, cents, 3)
    // candidate leg: the probed lists must land as PartitionFilters
    val qn = { val qd = q.map(_.toDouble)
      val n = math.sqrt(qd.map(x => x * x).sum); qd.map(_ / n) }
    val candPlan = IvfPq.adcCandidates(spark, dir, "vec_id", probes,
      Pq.adcLut(qn, books), 64, 16L)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list_id".r.findFirstIn(candPlan).isDefined,
      s"expected list_id partition pruning in candidate plan:\n$candPlan")
    // re-rank leg: the candidates' doc buckets must land as PartitionFilters
    val probed = IvfPq.probeIvfPqIndex(spark, dir, "embedding", "vec_id",
      q, 10, probes, books, rerank = 64)
    val planStr = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*dbk".r.findFirstIn(planStr).isDefined,
      s"expected dbk partition pruning in re-rank plan:\n$planStr")
    // codes partitions store codes, not embeddings (the 32x scan cut)
    val codesSchema = IvfPq.index(dir).read(spark).schema.fieldNames.toSet
    assert(codesSchema == Set("vec_id", "codes", "list_id"))
  }

  test("full probe with corpus-wide rerank equals brute force exactly") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_exact")
      .resolve("idx").toString
    IvfPq.writeIvfPqIndex(e, "embedding", "vec_id", cents, books, dir)
    val q = queryVec(3)
    val n = e.count().toInt
    assert(n <= 1024, "corpus grew past the rerank cap — pick a subset")
    val got = IvfPq.probeIvfPqIndex(spark, dir, "embedding", "vec_id",
        q, 10, 0 until 8, books, rerank = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == bruteTopK(q, 10))
  }

  test("partial probe + bounded rerank keeps recall while reading a fraction") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_recall")
      .resolve("idx").toString
    IvfPq.writeIvfPqIndex(e, "embedding", "vec_id", cents, books, dir)
    val recalls = Seq(0L, 7L, 42L).map { id =>
      val q = queryVec(id)
      val exact = bruteTopK(q, 10).map(_._1).toSet
      val approx = IvfPq.probeIvfPqIndex(spark, dir, "embedding", "vec_id",
          q, 10, Similarity.probeLists(q, cents, 3), books, rerank = 64)
        .collect().map(_.getLong(0)).toSet
      (approx intersect exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@10 with 3/8 lists = $mean ($recalls)")
  }

  test("re-crawl upsert leaves codes and refine tables equal to a scratch build") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_recrawl")
      .resolve("idx").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
    val crawl1 = evens.withColumn("embedding", reverse(col("embedding")))
      .unionByName(e.filter(col("vec_id") % 2 === 1))
    IvfPq.writeIvfPqIndex(crawl1, "embedding", "vec_id", cents, books, dir)
    IvfPq.upsertIvfPqIndex(evens, "embedding", "vec_id", cents, books, dir)
    val scratch = java.nio.file.Files.createTempDirectory("ivfpq_scratch")
      .resolve("idx").toString
    IvfPq.writeIvfPqIndex(e, "embedding", "vec_id", cents, books, scratch)
    def codesOf(p: String) = IvfPq.index(p).read(spark)
      .select(col("vec_id"), col("list_id").cast("int"),
        col("codes").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(codesOf(dir) == codesOf(scratch))
    def refineOf(p: String) = spark.read.parquet(p + "_refine")
      .select(col("vec_id"), col("list_id").cast("int"),
        col("dbk").cast("long"), col("embedding").cast("string"))
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSet
    assert(refineOf(dir) == refineOf(scratch))
    assert(IvfPq.index(dir).read(spark).count() == e.count())
  }

  test("config pins fail fast: retrained codebooks, missing pin, duplicate ids") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_pins")
      .resolve("idx").toString
    IvfPq.writeIvfPqIndex(e, "embedding", "vec_id", cents, books, dir)
    // retrained codebooks (trained on a subset → different bits)
    val books2 = Pq.trainCodebooks(e.filter(col("vec_id") < 100),
      "embedding", "vec_id", m = 8, k = 16)
    val ex1 = intercept[IllegalArgumentException] {
      IvfPq.upsertIvfPqIndex(e.limit(1), "embedding", "vec_id", cents,
        books2, dir)
    }
    assert(ex1.getMessage.contains("different centroids, codebooks"))
    val ex2 = intercept[IllegalArgumentException] {
      IvfPq.probeIvfPqIndex(spark, dir, "embedding", "vec_id", queryVec(1),
        10, 0 until 8, books2, rerank = 64)
    }
    // names the key and its on-disk value (a long fingerprint, shortened)
    val onDisk = books.map(PartitionedIndexOps.matrixFingerprint).mkString("|")
    assert(ex2.getMessage.contains(
      s"codebooks=${onDisk.take(16)}…(${onDisk.length} chars) on disk"),
      ex2.getMessage)
    // duplicate-id batch refuses
    val one = e.filter(col("vec_id") === 2)
    val ex3 = intercept[IllegalArgumentException] {
      IvfPq.upsertIvfPqIndex(one.unionByName(one), "embedding", "vec_id",
        cents, books, dir)
    }
    assert(ex3.getMessage.contains("duplicate"))
    // data without a pin = crashed build, upsert refuses
    val pin = new java.io.File(dir + "_meta/config")
    assert(pin.exists()); pin.delete()
    val ex4 = intercept[IllegalArgumentException] {
      IvfPq.upsertIvfPqIndex(e.limit(1), "embedding", "vec_id", cents,
        books, dir)
    }
    assert(ex4.getMessage.contains("crashed build"))
  }
}
