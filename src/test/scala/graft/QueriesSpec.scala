package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + structural checks over the declared query inventory; deep
  * correctness is the DuckDB oracle gate (tools/check_oracle.py). */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("query names are unique and every oracle key has a query") {
    val names = SparkEntry.defs.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("yardstick coverage is exhaustive: bench ∪ wideExtra ∪ excluded " +
      "partitions the query inventory") {
    // the no-silent-caps rule for the ≤2×-of-DuckDB contract: every
    // declared query is either timed by the wide yardstick (bench or
    // wideExtra) or carries a documented reason it is not a fair
    // same-algorithm timing pair — a new query that lands in none of the
    // three fails here instead of silently dodging the contract
    val all = SparkEntry.defs.map(_.name).toSet
    val bench = SparkEntry.benchQueries.map(_.name).toSet
    val wide = SparkEntry.wideExtra
    val excl = SparkEntry.yardstickExcluded.keySet
    assert((wide & bench).isEmpty,
      s"wideExtra duplicates bench members: ${wide & bench}")
    assert((excl & (bench ++ wide)).isEmpty,
      s"excluded overlaps the timed set: ${excl & (bench ++ wide)}")
    val unknown = (wide ++ excl) -- all
    assert(unknown.isEmpty, s"names not in defs (typo?): $unknown")
    val unclassified = all -- bench -- wide -- excl
    assert(unclassified.isEmpty,
      s"queries with no yardstick verdict: $unclassified")
    assert(SparkEntry.yardstickExcluded.values.forall(_.nonEmpty))
    // the wide set is what the round-9 brief requires: ≥60 compared
    // queries (timed members minus the 4 brute-oracle bench legacies
    // tools/yardstick.py EXCLUDEs python-side)
    assert(SparkEntry.wideBenchQueries.size >= 64,
      s"wide set shrank to ${SparkEntry.wideBenchQueries.size}")
  }

  test("every declared query executes at sf0.001") {
    // run them ALL, then report every failure: one broken query must not
    // hide the ones declared after it
    val failed = SparkEntry.defs.flatMap { q =>
      scala.util.Try(q.run(spark, TestSpark.sf0001).count()).failed.toOption
        .map(e => s"${q.name}: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" "))
    }
    assert(failed.isEmpty,
      s"${failed.size} queries failed:\n${failed.mkString("\n")}")
  }

  test("minhash-LSH dup pairs equal brute-force jaccard pairs (sf0.01)") {
    val brute = SparkEntry.queries("q34_jaccard_dupes")(spark, TestSpark.sf001)
      .collect().map(_.toSeq).toSet
    val lsh = SparkEntry.queries("q35_minhash_dupes")(spark, TestSpark.sf001)
      .collect().map(_.toSeq).toSet
    assert(brute.nonEmpty)
    assert(lsh == brute)
  }

  test("embedding LSH dup pairs equal brute-force cosine pairs (sf0.01)") {
    val brute = SparkEntry.queries("q45_embedding_neardup")(spark, TestSpark.sf001)
      .collect().map(_.toSeq).toSet
    val lsh = SparkEntry.queries("q84_embedding_neardup_lsh")(spark, TestSpark.sf001)
      .collect().map(_.toSeq).toSet
    assert(brute.nonEmpty)
    assert(lsh == brute)
  }

  test("embedding LSH recall at a near-threshold stress (sf0.001, t=0.4)") {
    import org.apache.spark.sql.functions._
    // 66 true pairs sit in [0.4, 0.48) — right at the LSH-hostile regime
    // (per-plane agreement ≈ 0.63). 1-bit bands (numChunks = numPlanes)
    // drive per-pair miss to (1-p)^16 ≈ 1e-7: bit-identical to brute.
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val a = e.select(col("vec_id").as("da"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("db"), col("embedding").as("eb"))
    val sim = graft.functions.CosineSimilarity(col("ea"), col("eb"))
    val brute = a.join(b, col("da") < col("db")).filter(sim >= 0.4)
      .select(round(sim, 4).as("simr"), col("da"), col("db"))
      .collect().map(_.toSeq).toSet
    val lsh = graft.operators.Dedup.embeddingDupPairs(
        e, "embedding", "vec_id", threshold = 0.4, numPlanes = 16, numChunks = 16)
      .collect().map(_.toSeq).toSet
    assert(brute.size >= 50)
    assert(lsh == brute)
  }

  test("scalable deciles equal ntile deciles, without a global fact sort") {
    for (sf <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val ntile = SparkEntry.queries("q53_deciles")(spark, sf)
        .collect().map(_.toSeq).toSet
      val scalable = SparkEntry.queries("q85_deciles_scalable")(spark, sf)
      assert(scalable.collect().map(_.toSeq).toSet == ntile, s"mismatch at $sf")
      // every single-partition (global) window must sit above an aggregate —
      // the compressed histogram — never directly above the fact scan
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.window.WindowExec
      // sparkPlan (pre-AQE) keeps WindowExec children traversable
      val globalWindows = scalable.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.nonEmpty)
      globalWindows.foreach { w =>
        assert(w.collect { case a: BaseAggregateExec => a }.nonEmpty,
          "global window not above an aggregate:\n" + w)
      }
    }
  }

  test("dup components converge on a chain graph (diameter > 1)") {
    import spark.implicits._
    // 1-2-3-4 is a path, not a clique: the min label needs 3 propagation
    // rounds to reach vertex 4, exercising the iteration + convergence
    // logic that q89's near-clique corpus doesn't
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("da", "db")
    val comp = graft.operators.Dedup.dupComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    val groups = graft.operators.Dedup.dupGroups(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(groups == Set((1L, 4L, "1,2,3,4"), (10L, 2L, "10,11")))
  }

  test("dup components: a 9-vertex path converges at the default maxIters with a constant-size plan") {
    import spark.implicits._
    // diameter 8 needs 9 rounds; a plan that embedded every earlier round
    // would double per round (3,059 logical nodes by round 7)
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("da", "db")
    val t0 = System.nanoTime()
    val comp = graft.operators.Dedup.dupComponents(pairs)
    val rows = comp.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows == (0L to 8L).map(_ -> 0L).toMap)
    assert(comp.queryExecution.analyzed.collect { case p => p }.size <= 2,
      comp.queryExecution.analyzed.treeString)
    assert((System.nanoTime() - t0) / 1e9 < 120)
  }

  test("dup components fail loudly when maxIters is below the path's needs") {
    import spark.implicits._
    // 0-1-2-3 has diameter 3: two rounds leave vertex 3 labeled 1
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("da", "db")
    val e = intercept[IllegalArgumentException](
      graft.operators.Dedup.dupComponents(pairs, maxIters = 2))
    assert(e.getMessage.contains("maxIters = 2") &&
      e.getMessage.contains("diameter"), e.getMessage)
  }

  test("persisted dedup index: pruned probe equals the inline incremental check") {
    import org.apache.spark.sql.functions.col
    val all = Tables.documents(spark, TestSpark.sf0001)
    val corpus = all.filter(col("doc_id") % 5 =!= 4)
    val batch = all.filter(col("doc_id") % 5 === 4)
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx_spec")
      .resolve("idx").toString
    graft.operators.DedupIndex.writeSignatureIndex(corpus, dir)
    val probe = graft.operators.DedupIndex.probeIndex(spark, dir, batch)
    // the bucket filters must land as PARTITION filters (pruned listing)
    val planStr = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*wb".r.findFirstIn(planStr).isDefined,
      s"expected wb partition pruning in probe plan:\n$planStr")
    val got = probe.collect().map(_.toSeq).toSet
    val inline = graft.operators.Dedup.incrementalDupPairs(corpus, batch)
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == inline)
    // on-disk layout: band buckets only
    val dirs = new java.io.File(dir + "/bands").listFiles
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("wb=")).toSet
    assert(dirs.nonEmpty && dirs.size <= 16)
    // a probe under a mismatched config must fail fast, not silently miss
    val e = intercept[IllegalArgumentException] {
      graft.operators.DedupIndex.probeIndex(spark, dir, batch, nBuckets = 32)
    }
    assert(e.getMessage.contains("nBuckets=16"))
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.DedupIndex.probeIndex(spark, dir, batch, numHashes = 16)
    }
    assert(e2.getMessage.contains("numHashes=32"))
  }

  test("streaming crawl feed maintains the dedup index via foreachBatch") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    val base = java.nio.file.Files.createTempDirectory("dedup_idx_stream")
    val srcDir = base.resolve("in"); java.nio.file.Files.createDirectories(srcDir)
    val idx = base.resolve("idx").toString
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    // three crawl slices arriving as separate files; slice 2 re-crawls
    // slice 0's docs with revised text (the FtsSpec pattern)
    val slices = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 0)
        .withColumn("text", concat(col("text"), lit(" recrawl"))))
    slices.zipWithIndex.foreach { case (df, i) =>
      val staging = base.resolve(s"stage$i")
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = staging.toFile.listFiles
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.copy(part, srcDir.resolve(s"slice$i.parquet"))
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val q = stream.writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        graft.operators.DedupIndex.upsertSignatureIndex(batch, idx))
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    // drained index == one-shot build over the FINAL corpus
    val finalCorpus = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(docs.filter(col("doc_id") % 3 === 0)
        .withColumn("text", concat(col("text"), lit(" recrawl"))))
    val scratch = base.resolve("scratch").toString
    graft.operators.DedupIndex.writeSignatureIndex(finalCorpus, scratch)
    def bands(p: String) = graft.operators.DedupIndex.index(p).read(spark)
      .collect().map(_.toSeq).toSet
    assert(bands(idx).nonEmpty && bands(idx) == bands(scratch))
  }

  test("containment pairs: word-aligned only, exact dups one-sided, short docs skipped") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),                 // contained in 2
      (2L, "zero alpha beta gamma delta epsilon omega end"),  // container
      (3L, "pha beta gamma delta epsilon"),    // char-substring of 2's tail
                                               // words, NOT word-aligned
      (4L, "alpha beta gamma delta epsilon"),  // exact dup of 1
      (5L, "tiny doc here now")                // < 5 words: skipped
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.containmentPairs(corpus, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1 ⊂ 2; 4 ⊂ 2; exact dups (1,4): higher id contained in lower, once
    assert(got == Set((1L, 2L), (4L, 2L), (4L, 1L)), s"got $got")
  }

  test("simhash finds the near-dup pairs with high recall (sf0.01)") {
    // the raw operator on the raw corpus — q36's QUERY now filters to its
    // injected guaranteed-detection pairs for the oracle, so organic
    // recall is pinned here instead
    val truth = SparkEntry.queries("q34_jaccard_dupes")(spark, TestSpark.sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = graft.operators.Dedup.simhashDupPairs(
        Tables.documents(spark, TestSpark.sf001), maxHamming = 3, numChunks = 4)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // This corpus's 31-word vocabulary keeps many frequency-vector
    // simhashes close, so hamming≤3 is a precision-first screen: expect
    // solid-but-partial recall and few extras (MinHash is the exact path).
    val recall = (truth & sim).size.toDouble / truth.size
    assert(recall >= 0.5, s"recall=$recall truth=${truth.size} sim=${sim.size}")
    assert(sim.size <= truth.size * 2, s"too many simhash pairs: ${sim.size}")
  }
}
