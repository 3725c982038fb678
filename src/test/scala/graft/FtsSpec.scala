package graft

import graft.operators.{BpeTrainer, Fts}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FTS query surface + BPE trainer invariants. Value exactness vs DuckDB is
  * the oracle gate's job (q126–q130); these pin the edge-case semantics the
  * oracle's fixed corpus can't reach. */
class FtsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def postingsOf(rows: Seq[(Long, String)]) =
    Fts.positionalPostings(rows.toDF("doc_id", "text"), "doc_id", "text")

  test("conjunctive query returns only docs containing every term") {
    val p = postingsOf(Seq(
      (1L, "join scan table join"),
      (2L, "join scan"),
      (3L, "table table")))
    val got = Fts.conjunctiveQuery(p, Seq("join", "table"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 1 only: total_tf = 2 joins + 1 table = 3
    assert(got == Map(1L -> 3L))
    // duplicate query terms must not change containment semantics
    assert(Fts.conjunctiveQuery(p, Seq("join", "join", "table")).count() == 1)
  }

  test("phrase query matches consecutive positions, counts occurrences, handles repeats") {
    val p = postingsOf(Seq(
      (1L, "big order scan now big order scan"), // phrase twice
      (2L, "big scan order"),                    // words present, wrong order
      (3L, "order big order big order")))        // for the repeat-word phrase
    val hits = Fts.phraseQuery(p, Seq("big", "order", "scan"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits == Map(1L -> 2L))
    // a phrase with a REPEATED word: "order big order" occurs twice in doc 3
    // (positions 0 and 2 — occurrences may overlap, both are real)
    val rep = Fts.phraseQuery(p, Seq("order", "big", "order"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rep == Map(3L -> 2L))
    // single-word phrase degenerates to term occurrence count
    val one = Fts.phraseQuery(p, Seq("big"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(one == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("index-backed lexical score equals the direct text-scan score") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val terms = Seq("table", "join", "scan")
    val fromIndex = Fts.lexicalScores(
      Fts.positionalPostings(docs, "doc_id", "text"),
      Fts.docLengths(docs, "doc_id", "text"), terms)
    val ws = graft.functions.TextFunctions.words(col("text"))
    val direct = docs.select(col("doc_id"),
      (size(filter(ws, w => w.isin(terms.map(lit): _*))).cast("double") /
        size(ws)).as("lex"))
    assert(fromIndex.count() == direct.count())
    assert(fromIndex.join(direct.withColumnRenamed("lex", "lex2"), "doc_id")
      .filter(col("lex") =!= col("lex2")).count() == 0)
  }

  test("bm25: docs with no query term are absent; scores positive; rarer term outranks") {
    val p = postingsOf(Seq(
      (1L, "alpha beta beta beta"),
      (2L, "beta beta beta beta"),
      (3L, "gamma gamma gamma gamma")))
    val dl = Fts.docLengths(Seq(
      (1L, "alpha beta beta beta"),
      (2L, "beta beta beta beta"),
      (3L, "gamma gamma gamma gamma")).toDF("doc_id", "text"), "doc_id", "text")
    val got = Fts.bm25Scores(p, dl, Seq("alpha", "beta"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got.values.forall(_ > 0))
    // alpha (df=1) is rarer than beta (df=2): doc 1 carries it and wins
    assert(got(1L) > got(2L))
  }

  test("persisted postings index prunes term buckets and answers queries unchanged") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val postings = Fts.positionalPostings(docs, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("fts_idx").toString
    Fts.writePostingsIndex(postings, dir, nBuckets = 16)
    val terms = Seq("table", "join", "scan")
    val loaded = Fts.loadPostings(spark, dir, terms, nBuckets = 16)
    // the bucket filter must land as a PARTITION filter (pruned at the
    // file index, like the IVF index), not a per-row predicate
    val planStr = Fts.conjunctiveQuery(loaded, terms)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*wb".r.findFirstIn(planStr).isDefined,
      s"expected wb partition pruning in plan:\n$planStr")
    // and the pruned index answers exactly like inline postings
    val fromIndex = Fts.conjunctiveQuery(loaded, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Fts.conjunctiveQuery(postings, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromIndex == inline && fromIndex.nonEmpty)
    // on-disk layout: only bucket directories
    val dirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("wb=")).toSet
    assert(dirs.nonEmpty && dirs.size <= 16)
  }

  test("postings upsert rewrites only touched buckets; re-crawled docs replaced") {
    val dir = java.nio.file.Files.createTempDirectory("fts_upsert").toString
    val v1 = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    Fts.writePostingsIndex(Fts.positionalPostings(v1, "doc_id", "text"),
      dir, nBuckets = 8)
    val before = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .flatMap(d => d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified())).toMap
    // doc 2 re-crawled with new text; doc 3 is new
    val batch = Seq((2L, "alpha epsilon"), (3L, "zeta beta")).toDF("doc_id", "text")
    Fts.upsertPostingsIndex(batch, dir, "doc_id", "text", nBuckets = 8)
    val got = Fts.index(dir).read(spark)
      .select(col("word"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val expected = Fts.positionalPostings(
      v1.filter(col("doc_id") =!= 2L).unionByName(batch), "doc_id", "text")
      .select(col("word"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected)
    // gamma/delta's old postings for doc 2 are gone
    assert(!got.exists { case (w, d) => d == 2L && (w == "gamma" || w == "delta") })
    // buckets the upsert never touched (not holding the batch's NEW words
    // nor the re-crawled doc's OLD words) keep their original files
    val touchedWords = Seq("alpha", "epsilon", "zeta", "beta", // batch
      "gamma", "delta") // doc 2's old terms
    val touched = touchedWords.toDF("word")
      .select(pmod(xxhash64(col("word")), lit(8)).as("wb"))
      .distinct().collect().map(r => s"wb=${r.getLong(0)}").toSet
    val untouchedOld = before.filterNot { case (p, _) =>
      touched.exists(p.contains)
    }
    untouchedOld.foreach { case (p, ts) =>
      val f = new java.io.File(p)
      assert(f.exists && f.lastModified() == ts, s"untouched bucket rewritten: $p")
    }
  }

  test("re-crawl that vacates a term bucket leaves no stale postings behind") {
    // doc 2's only word disappears on re-crawl; its old bucket ends up
    // with ZERO served rows — doc 2's tombstone must retire the posting
    // in a bucket the batch never writes
    val dir = java.nio.file.Files.createTempDirectory("fts_vacate").toString
    val v1 = Seq((1L, "alpha"), (2L, "gamma")).toDF("doc_id", "text")
    Fts.writePostingsIndex(Fts.positionalPostings(v1, "doc_id", "text"),
      dir, nBuckets = 64)
    val wbOf = (w: String) => Seq(w).toDF("word")
      .select(pmod(xxhash64(col("word")), lit(64))).head.getLong(0)
    assume(wbOf("gamma") != wbOf("alpha"), "need distinct buckets for this test")
    Fts.upsertPostingsIndex(Seq((2L, "alpha")).toDF("doc_id", "text"),
      dir, "doc_id", "text", nBuckets = 64)
    val left = Fts.index(dir).read(spark)
      .select(col("word"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(left == Set(("alpha", 1L), ("alpha", 2L)), s"stale postings: $left")
    assert(Fts.loadPostings(spark, dir, Seq("gamma"), nBuckets = 64).count() == 0)
  }

  test("a legacy/truncated config pin fails loudly instead of validating any geometry") {
    val dir = java.nio.file.Files.createTempDirectory("fts_legacy").toString
    Fts.writePostingsIndex(Fts.positionalPostings(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text"),
      dir, nBuckets = 16)
    // overwrite the pin with a JSON payload: no k=v lines parse, so
    // every checked key is MISSING — must fail (rebuild), never pass
    // (written through the hadoop fs so the .crc sidecar stays in sync)
    val pinPath = new org.apache.hadoop.fs.Path(dir + "_meta/config")
    val fs = pinPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(pinPath, true)
    try out.write("""{"nBuckets":16}""".getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalArgumentException] {
      Fts.loadPostings(spark, dir, Seq("alpha"), nBuckets = 16)
    }
    assert(e.getMessage.contains("without the nBuckets key"))
  }

  test("querying or upserting with the wrong nBuckets fails fast instead of mis-pruning") {
    val dir = java.nio.file.Files.createTempDirectory("fts_cfg").toString
    Fts.writePostingsIndex(Fts.positionalPostings(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text"),
      dir, nBuckets = 16)
    val e1 = intercept[IllegalArgumentException] {
      Fts.loadPostings(spark, dir, Seq("alpha"), nBuckets = 32)
    }
    assert(e1.getMessage.contains("nBuckets=16"))
    intercept[IllegalArgumentException] {
      Fts.upsertPostingsIndex(Seq((2L, "gamma")).toDF("doc_id", "text"),
        dir, "doc_id", "text", nBuckets = 8)
    }
    // the matching config passes
    assert(Fts.loadPostings(spark, dir, Seq("alpha"), nBuckets = 16)
      .count() == 1)
  }

  test("an upsert after a build interrupted before its commit serves only committed rows") {
    val dir = java.nio.file.Files.createTempDirectory("fts_nocommit").toString
    val v1 = Seq((1L, "alpha"), (2L, "gamma")).toDF("doc_id", "text")
    Fts.writePostingsIndex(Fts.positionalPostings(v1, "doc_id", "text"),
      dir, nBuckets = 64)
    // simulate the crash: the build's rows and pin are on disk, its commit
    // marker is not
    assert(new java.io.File(dir + "_meta/commits/1").delete())
    assert(Fts.loadPostings(spark, dir, Seq("alpha", "gamma"),
      nBuckets = 64).count() == 0, "an uncommitted build is served")
    Fts.upsertPostingsIndex(Seq((2L, "alpha")).toDF("doc_id", "text"),
      dir, "doc_id", "text", nBuckets = 64)
    val left = Fts.index(dir).read(spark)
      .select(col("word"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(left == Set(("alpha", 2L)), s"uncommitted rows served: $left")
    // the uncommitted build's version is never reused
    assert(new java.io.File(dir + "_meta/commits").list().toSeq == Seq("2"))
  }

  test("random overlapping upsert sequences equal a from-scratch build") {
    // 6 deterministic pseudo-random batches over 40 docs, each re-crawling
    // some earlier docs with version-stamped text — the drained index must
    // equal bulk-building from the latest version of every doc
    val rnd = new scala.util.Random(7L)
    val vocab = Vector("table", "join", "scan", "merge", "sort", "hash",
      "row", "key", "data", "batch")
    def text(doc: Long, v: Int) =
      (0 until 8).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ") +
        s" v$v"
    val latest = scala.collection.mutable.Map.empty[Long, String]
    val dir = java.nio.file.Files.createTempDirectory("fts_rand").toString
    (0 until 6).foreach { v =>
      val ids = (0L until 40L).filter(_ => rnd.nextBoolean()).take(12)
      val rows = ids.map { id =>
        val t = text(id, v); latest(id) = t; (id, t)
      }
      if (rows.nonEmpty)
        Fts.upsertPostingsIndex(rows.toDF("doc_id", "text"),
          dir, "doc_id", "text", nBuckets = 8)
    }
    val expected = Fts.positionalPostings(
      latest.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      .select(col("word"), col("doc_id"), col("tf")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = Fts.index(dir).read(spark)
      .select(col("word"), col("doc_id"), col("tf")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("streaming crawl feed maintains the postings index via foreachBatch") {
    import org.apache.spark.sql.Row
    val base = java.nio.file.Files.createTempDirectory("fts_stream")
    val srcDir = base.resolve("in"); java.nio.file.Files.createDirectories(srcDir)
    val idx = base.resolve("idx").toString
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    // three crawl slices arriving as separate files; slice 2 re-crawls
    // slice 0's docs with revised text
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
        Fts.upsertPostingsIndex(batch, idx, "doc_id", "text", nBuckets = 8))
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    // drained index == one-shot batch build over the FINAL corpus
    val finalCorpus = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(docs.filter(col("doc_id") % 3 === 0)
        .withColumn("text", concat(col("text"), lit(" recrawl"))))
    val expected = Fts.positionalPostings(finalCorpus, "doc_id", "text")
      .select(col("word"), col("doc_id"), col("tf")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = Fts.index(idx).read(spark)
      .select(col("word"), col("doc_id"), col("tf")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("bpe: trained merges and encoding match a hand-computed corpus") {
    val docs = Seq((1L, "aab aab ab"), (2L, "aab b")).toDF("doc_id", "text")
    // pair counts: (a,a)=3 (aab x3), (a,b)=4 (aab x3 + ab x1) → merge 1 = ab
    val m = BpeTrainer.trainMerges(docs, "text", 2)
    assert(m.head.merged == "ab" && m.head.n == 4)
    // after ab: aab=[a,ab] x3, ab=[ab], b=[b] → pairs (a,ab)=3 → merge 2 = aab
    assert(m(1).merged == "aab" && m(1).n == 3)
    val enc = BpeTrainer.encode(docs, "text", m)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(enc == Map("aab" -> 3L, "ab" -> 1L, "b" -> 1L))
  }

  test("bpe: per-doc token counts sum to the corpus-wide encode total") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val m = BpeTrainer.trainMerges(docs, "text", 3)
    val corpusTotal = BpeTrainer.encode(docs, "text", m)
      .agg(sum(col("n"))).head.getLong(0)
    val perDocTotal = docs
      .select(BpeTrainer.tokenCountCol(col("text"), m).as("toks"))
      .agg(sum(col("toks"))).head.getLong(0)
    assert(corpusTotal == perDocTotal)
  }

  test("bpe: native token count is bit-identical to the composed HOF form") {
    val corpus = Tables.documents(spark, TestSpark.sf0001)
    val m = BpeTrainer.trainMerges(corpus, "text", 3)
    // boundary shapes: consecutive/leading/trailing spaces (empty words),
    // empty string, single-char word, merge-heavy repeats, null text
    val edge = Seq((1L, Some("aab  ab")), (2L, Some(" aab")),
      (3L, Some("ab ")), (4L, Some("")), (5L, Some("a")),
      (6L, Some("aab aab aab b ab")), (7L, Option.empty[String]))
      .toDF("doc_id", "text")
    for (df <- Seq(edge, corpus)) {
      val diff = df.select(
          BpeTrainer.tokenCountCol(col("text"), m).as("a"),
          BpeTrainer.tokenCountColComposed(col("text"), m).as("b"))
        .filter(not(col("a") <=> col("b")))
        .collect()
      assert(diff.isEmpty,
        s"native vs composed token counts diverged: ${diff.take(3).mkString("; ")}")
    }
  }

  test("bpe: a corpus with no adjacent pairs trains zero merges, encodes unchanged") {
    val docs = Seq((1L, "a b c a")).toDF("doc_id", "text")
    val m = BpeTrainer.trainMerges(docs, "text", 3)
    assert(m.isEmpty)
    val enc = BpeTrainer.encode(docs, "text", m)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(enc == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
  }

  test("native per-doc postings kernel equals the composed posexplode+groupBy build") {
    // the r12 shuffle-free build (WordPostings kernel): row-set equality
    // with the exact pipeline it replaced, on the token edge cases split's
    // semantics create — empty text (one "" token), leading / trailing /
    // doubled spaces (empty tokens are real tokens), repeated words
    // (positions merge into one ascending list), multi-byte UTF-8 (byte
    // scanning must not split inside a sequence), and a null doc (no rows)
    val docs = Seq[(java.lang.Long, String)](
      (1L, "join scan table join join"),
      (2L, ""),
      (3L, " leading and  doubled trailing "),
      (4L, "über straße über ünïcode"),
      (5L, "x"),
      (6L, null),
      (7L, "a a a a a a a a a a b")).toDF("doc_id", "text")
    val native = Fts.positionalPostings(docs, "doc_id", "text")
    val composed = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .groupBy(col("word"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
    assert(native.columns.toSeq == composed.columns.toSeq)
    assert(native.schema.map(f => (f.name, f.dataType)) ==
      composed.schema.map(f => (f.name, f.dataType)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3).toList)).toSet
    assert(rows(native) == rows(composed))
    // and the plan is shuffle-free: building postings must not exchange
    val plan = native.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"postings build plans an exchange:\n$plan")
  }
}
