package graft

import graft.operators.{LshIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted LSH index: hamming-probe partition pruning, exactness when
  * every bucket is probed, re-crawl equivalence to a scratch build, and
  * the config-pin fail-fasts. */
class LshIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val e = Tables.embeddings(spark, TestSpark.sf0001).cache()
  private lazy val planes = Similarity.hyperplanes(64, 6)

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

  test("radius-1 probe prunes bucket partitions; full radius equals brute force") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_idx")
      .resolve("idx").toString
    LshIndex.writeLshIndex(e, "embedding", "vec_id", planes, dir)
    val q = queryVec(5)
    val probed = LshIndex.probeLshIndex(spark, dir, "embedding", "vec_id",
      q, 10, planes, radius = 1)
    val planStr = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(planStr).isDefined,
      s"expected bucket partition pruning in plan:\n$planStr")
    // radius-1 probes 7 of 64 buckets; results must equal the inline
    // annTopK over the same probe set's semantics (recall, not exact) —
    // exactness comes from the full radius:
    val exact = LshIndex.probeLshIndex(spark, dir, "embedding", "vec_id",
        q, 10, planes, radius = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(exact == bruteTopK(q, 10))
    // and the radius-1 result is a subset of the corpus ranked exactly
    val r1 = probed.collect().map(_.getLong(0)).toSet
    assert(r1.nonEmpty && r1.subsetOf(e.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet))
  }

  test("batch probe: payload columns served, pruned read, full radius exact, pin guards") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_batch")
      .resolve("idx").toString
    LshIndex.writeLshIndex(e, "embedding", "vec_id", planes, dir,
      keepCols = Seq("label"))
    val anchors = e.orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("aid"), col("embedding").as("ae"),
        col("label").as("al"))
    // radius-1: the scan must prune bucket partitions
    val r1 = LshIndex.batchProbe(spark, dir, anchors, "ae", planes,
      radius = 1)
    val planStr = r1.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(planStr)
      .isDefined, s"expected bucket partition pruning in plan:\n$planStr")
    // payload column rides the index rows
    assert(r1.columns.contains("label") && r1.columns.contains("al"))
    // full radius serves every (anchor, vector) pair exactly once
    val full = LshIndex.batchProbe(spark, dir, anchors, "ae", planes,
      radius = 6)
    val n = e.count()
    assert(full.count() == 4 * n)
    assert(full.select(col("aid"), col("vec_id")).distinct().count() == 4 * n)
    // radius-1 candidates are a subset of the full serve
    val r1Pairs = r1.select(col("aid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullPairs = full.select(col("aid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r1Pairs.nonEmpty && r1Pairs.subsetOf(fullPairs))
    // an upsert that omits the pinned payload columns refuses
    val ex = intercept[IllegalArgumentException] {
      LshIndex.upsertLshIndex(e.limit(1), "embedding", "vec_id", planes, dir)
    }
    assert(ex.getMessage.contains("payload columns"))
    // a probe under retrained planes refuses
    val ex2 = intercept[IllegalArgumentException] {
      LshIndex.batchProbe(spark, dir, anchors, "ae",
        Similarity.hyperplanes(64, 6, seed = 7L))
    }
    assert(ex2.getMessage.contains("different hyperplanes"))
  }

  test("re-crawl upsert equals a scratch build; pins fail fast") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_recrawl")
      .resolve("idx").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
    val crawl1 = evens.withColumn("embedding", reverse(col("embedding")))
      .unionByName(e.filter(col("vec_id") % 2 === 1))
    LshIndex.writeLshIndex(crawl1, "embedding", "vec_id", planes, dir)
    // the perturbation must actually move buckets for the test to bite
    val moved = Similarity.bucketize(
        evens.withColumn("embedding", reverse(col("embedding"))),
        "embedding", planes)
      .select(col("vec_id"), col("bucket").as("b1"))
      .join(Similarity.bucketize(evens, "embedding", planes)
        .select(col("vec_id"), col("bucket").as("b2")), "vec_id")
      .filter(col("b1") =!= col("b2")).count()
    assert(moved > 0, "perturbed embeddings kept their buckets — vacuous")
    LshIndex.upsertLshIndex(evens, "embedding", "vec_id", planes, dir)
    val scratchDir = java.nio.file.Files.createTempDirectory("lsh_scratch")
      .resolve("idx").toString
    LshIndex.writeLshIndex(e, "embedding", "vec_id", planes, scratchDir)
    def content(p: String) = LshIndex.index(p).read(spark)
      .select(col("vec_id"), col("bucket").cast("long"),
        col("embedding").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(content(dir) == content(scratchDir))
    // retrained planes refuse
    val planes2 = Similarity.hyperplanes(64, 6, seed = 7L)
    val ex = intercept[IllegalArgumentException] {
      LshIndex.upsertLshIndex(e.limit(1), "embedding", "vec_id", planes2, dir)
    }
    assert(ex.getMessage.contains("different hyperplanes"))
    val ex2 = intercept[IllegalArgumentException] {
      LshIndex.probeLshIndex(spark, dir, "embedding", "vec_id",
        queryVec(1), 10, planes2)
    }
    assert(ex2.getMessage.contains("different hyperplanes"))
    // missing pin refuses
    val pin = new java.io.File(dir + "_meta/config")
    assert(pin.exists()); pin.delete()
    val ex3 = intercept[IllegalArgumentException] {
      LshIndex.upsertLshIndex(e.limit(1), "embedding", "vec_id", planes, dir)
    }
    assert(ex3.getMessage.contains("crashed build"))
  }

  test("a payload column whose name cannot be stored in the pin fails by name before any claim") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_badpin")
      .resolve("idx").toString
    // a pin holds one k=v line per key: this keepCols value would be
    // stored as two lines, and the index would refuse its own pin
    val ex = intercept[IllegalArgumentException] {
      LshIndex.writeLshIndex(e.withColumn("a\nb", col("label")),
        "embedding", "vec_id", planes, dir, keepCols = Seq("a\nb"))
    }
    assert(ex.getMessage.contains("'keepCols'"), ex.getMessage)
    assert(!new java.io.File(dir + "_meta").exists(),
      "a refused build claimed a version or wrote a pin")
  }

  test("batch probe refuses anchor frames whose columns collide with the probe machinery or index schema") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_clash")
      .resolve("idx").toString
    LshIndex.writeLshIndex(e, "embedding", "vec_id", planes, dir)
    val bucketAnchor = e.limit(2)
      .select(col("vec_id").as("aid"), col("embedding").as("ae"),
        lit(1L).as("bucket"))
    val ex = intercept[IllegalArgumentException] {
      LshIndex.batchProbe(spark, dir, bucketAnchor, "ae", planes)
    }
    assert(ex.getMessage.contains("collide"))
    val idxColAnchor = e.limit(2)
      .select(col("vec_id"), col("embedding").as("ae"))
    val ex2 = intercept[IllegalArgumentException] {
      LshIndex.batchProbe(spark, dir, idxColAnchor, "ae", planes)
    }
    assert(ex2.getMessage.contains("collide"))
  }

  test("multi-table index: pruning, candidate union matches per-table recompute, guards") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_multi")
      .resolve("idx").toString
    val planeSets = (0 until 5).map(t =>
      Similarity.hyperplanes(64, 3, seed = 100L + t))
    LshIndex.writeMultiLshIndex(e, "embedding", "vec_id", planeSets, dir)
    // stored once per table
    assert(LshIndex.multiIndex(dir).read(spark).count() == e.count() * 5)
    val q = queryVec(5)
    val probed = LshIndex.probeMultiLsh(spark, dir, "embedding", "vec_id",
      q, 10, planeSets)
    val planStr = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tbl".r.findFirstIn(planStr)
      .isDefined, s"expected tbl/bucket partition pruning in plan:\n$planStr")
    // batch candidates == the per-table bucket-membership union,
    // recomputed independently with the inline bucketizer
    val anchors = e.filter(col("vec_id") === 5)
      .select(col("vec_id").as("aid"), col("embedding").as("ae"))
    val handle = LshIndex.batchProbeMultiManaged(spark, dir, anchors, "ae",
      planeSets)
    val got = handle.result.select(col("vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    handle.close()
    val expected = planeSets.flatMap { p =>
      val b = Similarity.bucketize(e, "embedding", p)
        .select(col("vec_id"), col("bucket"))
      val qb = b.filter(col("vec_id") === 5).head.getLong(1)
      b.filter(col("bucket") === qb).collect().map(_.getLong(0))
    }.toSet
    assert(got == expected)
    // single probe == exact cosine ranking restricted to that union
    val qv = array(q.map(lit): _*)
    val exp10 = e.filter(col("vec_id").isInCollection(expected.toSeq))
      .select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), qv), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == exp10)
    // different/reordered plane sets refuse
    val ex = intercept[IllegalArgumentException] {
      LshIndex.probeMultiLsh(spark, dir, "embedding", "vec_id", q, 10,
        planeSets.reverse)
    }
    assert(ex.getMessage.contains("different plane"))
    // anchor column collisions refuse (tbl is reserved here too)
    val ex2 = intercept[IllegalArgumentException] {
      LshIndex.batchProbeMultiManaged(spark, dir,
        anchors.withColumn("tbl", lit(1)), "ae", planeSets)
    }
    assert(ex2.getMessage.contains("tbl"))
  }

  test("multi-table payload columns ride the index; ragged upsert refuses") {
    val dir = java.nio.file.Files.createTempDirectory("mlsh_keep")
      .resolve("idx").toString
    val planeSets = (0 until 3).map(t =>
      Similarity.hyperplanes(64, 3, seed = 400L + t))
    LshIndex.writeMultiLshIndex(e, "embedding", "vec_id", planeSets, dir,
      keepCols = Seq("label"))
    val anchors = e.orderBy(col("vec_id")).limit(2)
      .select(col("vec_id").as("aid"), col("embedding").as("ae"))
    val handle = LshIndex.batchProbeMultiManaged(spark, dir, anchors, "ae",
      planeSets)
    try {
      assert(handle.result.columns.contains("label"))
      // payload values match the source rows for the served candidates
      val served = handle.result
        .select(col("vec_id"), col("label").cast("long")).distinct()
      val bad = served.join(
        e.select(col("vec_id"), col("label").cast("long")),
        Seq("vec_id", "label"), "left_anti").count()
      assert(bad == 0, s"$bad served rows carry a wrong payload value")
    } finally handle.close()
    val ex = intercept[IllegalArgumentException] {
      LshIndex.upsertMultiLshIndex(e.limit(1), "embedding", "vec_id",
        planeSets, dir) // keepCols omitted — ragged schema
    }
    assert(ex.getMessage.contains("payload columns"))
  }

  test("multi-table re-crawl upsert equals a scratch build; pins fail fast") {
    val planeSets = (0 until 4).map(t =>
      Similarity.hyperplanes(64, 3, seed = 200L + t))
    val dir = java.nio.file.Files.createTempDirectory("mlsh_recrawl")
      .resolve("idx").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val odds = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val crawl1 = evens.withColumn("embedding", reverse(col("embedding")))
      .unionByName(odds)
    LshIndex.writeMultiLshIndex(crawl1, "embedding", "vec_id", planeSets,
      dir)
    // the perturbation must move at least one (tbl, bucket) pair
    val lb = graft.functions.LshBuckets(col("embedding"), planeSets)
    val moved = evens.withColumn("b1", lb)
      .select(col("vec_id"), col("b1"))
      .join(evens.withColumn("embedding", reverse(col("embedding")))
        .withColumn("b2", lb).select(col("vec_id"), col("b2")), "vec_id")
      .filter(col("b1") =!= col("b2")).count()
    assert(moved > 0, "perturbed embeddings kept all buckets — vacuous")
    LshIndex.upsertMultiLshIndex(evens, "embedding", "vec_id", planeSets,
      dir)
    val scratchDir = java.nio.file.Files
      .createTempDirectory("mlsh_scratch").resolve("idx").toString
    LshIndex.writeMultiLshIndex(
      e.select(col("vec_id"), col("embedding")), "embedding", "vec_id",
      planeSets, scratchDir)
    def content(p: String) = LshIndex.multiIndex(p).read(spark)
      .select(col("vec_id"), col("tbl").cast("long"),
        col("bucket").cast("long"), col("embedding").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(content(dir) == content(scratchDir))
    // retrained plane sets refuse the upsert
    val ex = intercept[IllegalArgumentException] {
      LshIndex.upsertMultiLshIndex(evens.limit(1), "embedding", "vec_id",
        planeSets.reverse, dir)
    }
    assert(ex.getMessage.contains("different plane"))
  }

  /** Stops an upsert at each of its write steps in turn (the
    * in-process form of a driver death there), checking that none of the
    * stopped attempts is served, then lets the same batch through. */
  private def crashEveryStep(prefix: String, upsert: () => Unit,
      served: () => Set[String]): Unit = {
    val before = served()
    sys.props("graft.crashpoint.mode") = "throw"
    try Seq("claimed", "between-writes", "tombstoned", "staged").foreach { p =>
      sys.props("graft.crashpoint") = s"$prefix.upsert.$p"
      intercept[IllegalStateException](upsert())
      assert(served() == before, s"an upsert stopped at $p is served")
    } finally {
      sys.props -= "graft.crashpoint"; sys.props -= "graft.crashpoint.mode"
    }
    upsert()
  }

  test("upsert crash window heals under the same-batch retry") {
    // single-table variant of the contract below: an attempt stopped at
    // any write step is invisible, and the retry converges to the clean
    // post-upsert state
    val dir = java.nio.file.Files.createTempDirectory("lsh_crash")
      .resolve("idx").toString
    val clean = java.nio.file.Files.createTempDirectory("lsh_clean")
      .resolve("idx").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val crawl1 = evens.withColumn("embedding", reverse(col("embedding")))
      .unionByName(e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding")))
    Seq(dir, clean).foreach(
      LshIndex.writeLshIndex(crawl1, "embedding", "vec_id", planes, _))
    LshIndex.upsertLshIndex(evens, "embedding", "vec_id", planes, clean)
    def snap(p: String) = LshIndex.index(p).read(spark)
      .select(Seq("vec_id", "bucket", "embedding")
        .map(c => col(c).cast("string")): _*)
      .collect().map(_.mkString("|")).toSet
    assert(snap(dir) != snap(clean), "crash simulation vacuous")
    crashEveryStep("LSH",
      () => LshIndex.upsertLshIndex(evens, "embedding", "vec_id", planes, dir),
      () => snap(dir))
    assert(snap(dir) == snap(clean))
  }

  test("multi-table upsert crash window heals under the same-batch retry") {
    // the documented foreachBatch contract: a crash anywhere before the
    // commit leaves only unreferenced files; a retry of the SAME batch
    // must converge to the clean post-upsert state
    val planeSets = (0 until 3).map(t =>
      Similarity.hyperplanes(64, 3, seed = 600L + t))
    val dir = java.nio.file.Files.createTempDirectory("mlsh_crash")
      .resolve("idx").toString
    val clean = java.nio.file.Files.createTempDirectory("mlsh_clean")
      .resolve("idx").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val crawl1 = evens.withColumn("embedding", reverse(col("embedding")))
      .unionByName(e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding")))
    Seq(dir, clean).foreach(LshIndex.writeMultiLshIndex(crawl1, "embedding",
      "vec_id", planeSets, _))
    LshIndex.upsertMultiLshIndex(evens, "embedding", "vec_id", planeSets,
      clean)
    def snap(p: String) = LshIndex.multiIndex(p).read(spark)
      .select(Seq("vec_id", "tbl", "bucket", "embedding")
        .map(c => col(c).cast("string")): _*)
      .collect().map(_.mkString("|")).toSet
    assert(snap(dir) != snap(clean), "crash simulation vacuous")
    crashEveryStep("multi-table LSH",
      () => LshIndex.upsertMultiLshIndex(evens, "embedding", "vec_id",
        planeSets, dir),
      () => snap(dir))
    assert(snap(dir) == snap(clean))
  }

  test("random overlapping multi-table upsert sequences equal a from-scratch build") {
    // 5 deterministic pseudo-random batches over 100 vectors, each
    // re-crawling some earlier ids with a sign-flipped embedding (flips
    // every plane bit in every table) — the drained index must equal
    // bulk-building from the latest version of every vector: the
    // FtsSpec drift contract for the OR-amplified family
    val rnd = new scala.util.Random(11L)
    val planeSets = (0 until 3).map(t =>
      Similarity.hyperplanes(64, 3, seed = 300L + t))
    val dir = java.nio.file.Files.createTempDirectory("mlsh_rand")
      .resolve("idx").toString
    val base = e.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    def versioned(src: org.apache.spark.sql.DataFrame, neg: Boolean) =
      if (!neg) src
      else src.withColumn("embedding",
        transform(col("embedding"), x => x * lit(-1.0f)))
    val latest = scala.collection.mutable.Map.empty[Long, Int]
    (0 until 5).foreach { v =>
      val ids = (0L until 100L).filter(_ => rnd.nextBoolean()).take(20)
      if (ids.nonEmpty) {
        ids.foreach(latest(_) = v)
        LshIndex.upsertMultiLshIndex(
          versioned(base.filter(col("vec_id").isInCollection(ids)),
            v % 2 == 1),
          "embedding", "vec_id", planeSets, dir)
      }
    }
    val negIds = latest.filter(_._2 % 2 == 1).keys.toSeq
    val scratchSrc = base
      .filter(col("vec_id").isInCollection(latest.keys.toSeq))
    val finalFrame =
      versioned(scratchSrc.filter(col("vec_id").isInCollection(
        if (negIds.isEmpty) Seq(-1L) else negIds)), neg = true)
        .unionByName(scratchSrc.filter(!col("vec_id").isInCollection(
          if (negIds.isEmpty) Seq(-1L) else negIds)))
    val scratchDir = java.nio.file.Files
      .createTempDirectory("mlsh_rand_scratch").resolve("idx").toString
    LshIndex.writeMultiLshIndex(finalFrame, "embedding", "vec_id",
      planeSets, scratchDir)
    def content(p: String) = LshIndex.multiIndex(p).read(spark)
      .select(col("vec_id"), col("tbl").cast("long"),
        col("bucket").cast("long"), col("embedding").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(content(dir) == content(scratchDir))
  }
}
