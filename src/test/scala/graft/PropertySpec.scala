package graft

import graft.functions.TextFunctions
import graft.llm.{FeatureHashEmbedder, Parsers, RagPipeline, StubLlm, StubTts}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.2.3): dedup idempotence, embed
  * determinism + cosine bounds, TTS-cleanup idempotence. Uses raw ScalaCheck
  * generators with fixed seeds (the scalatest-scalacheck bridge isn't in the
  * offline artifact cache). */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val embedder = new FeatureHashEmbedder(64)

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val wordGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val textGen: Gen[String] =
    Gen.listOfN(12, wordGen).map(_.mkString(" "))

  test("portable embedder matches an independent reimplementation on random text") {
    val texts = samples(textGen, 80)
    val emb = new graft.llm.PortableHashEmbedder(64)
    def reference(t: String): Seq[Int] = {
      val v = new Array[Int](64)
      t.split(" ").filter(_.nonEmpty).foreach { w =>
        val h = w.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 2147483647L)
        v((h % 64).toInt) += (if ((h / 64) % 2 == 0) 1 else -1)
      }
      v.toSeq
    }
    texts.foreach { t =>
      assert(emb.embed(t).map(_.toInt).toSeq == reference(t), s"text: $t")
    }
  }

  test("salted join equals plain join for random salt factors") {
    import spark.implicits._
    val left = samples(Gen.chooseNum(0L, 20L), 200).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "lv")
    val right = (0L to 20L).map(k => (k, s"r$k")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // broadcast off so the guard doesn't no-op the tiny right side — the
    // property must exercise the actual salted plan
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try Seq(1, 3, 8, 16).foreach { f =>
      val salted = graft.operators.SkewJoin
        .saltedInnerJoin(left, right, Seq("k"), f).collect()
        .map(_.toSeq).sortBy(_.mkString("|")).toSeq
      assert(salted == plain, s"saltFactor=$f")
    } finally spark.conf.set(key, prev)
  }

  test("as-of join invariant: matched view never succeeds its purchase") {
    val q52 = SparkEntry.queries("q52_asof_join")(spark, TestSpark.sf0001)
    val ev = Tables.events(spark, TestSpark.sf0001)
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val bad = q52.join(ev, "purchase_id")
      .filter(col("view_ts").isNotNull && col("view_ts") > col("p_ts"))
    assert(bad.count() == 0)
  }

  test("embedder: deterministic, unit-norm (or zero), cosine in [-1,1]") {
    val texts = samples(textGen, 50)
    texts.sliding(2).foreach { pair =>
      val a = pair.head
      val b = pair.last
      val va = embedder.embed(a)
      assert(va.toSeq == embedder.embed(a).toSeq)
      val na = math.sqrt(va.map(x => x.toDouble * x).sum)
      assert(na == 0.0 || math.abs(na - 1.0) < 1e-4)
      val vb = embedder.embed(b)
      val nb = math.sqrt(vb.map(x => x.toDouble * x).sum)
      if (na > 0 && nb > 0) {
        val cos = va.zip(vb).map { case (x, y) => x.toDouble * y }.sum / (na * nb)
        assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
      }
    }
  }

  test("upsert idempotence: upserting the same batch twice equals once") {
    import spark.implicits._
    val rag = new RagPipeline(embedder, new StubLlm)
    val base = rag.buildIndex(Seq(("a", "t one"), ("b", "t two")).toDF("id", "document"))
    val batch = rag.buildIndex(Seq(("b", "t two v2"), ("c", "t three")).toDF("id", "document"))
    val once = rag.upsert(base, batch)
    val twice = rag.upsert(once, batch)
    val c1 = once.select("id", "document").collect().map(_.toSeq).toSet
    val c2 = twice.select("id", "document").collect().map(_.toSeq).toSet
    assert(c1 == c2)
  }

  test("tts cleanup idempotence: clean(clean(x)) == clean(x)") {
    import spark.implicits._
    val lineGen = Gen.oneOf(textGen, Gen.const("***"), Gen.const("---"),
      Gen.const("  "), Gen.const("====="))
    val scripts = samples(Gen.listOfN(6, lineGen).map(_.mkString("\n")), 25)
    val df = scripts.toDF("s")
    val once = df.select(Parsers.formatScriptForTts(col("s")).as("s"))
    val twice = once.select(Parsers.formatScriptForTts(col("s")).as("s"))
    assert(once.collect().map(_.getString(0)).toSeq ==
      twice.collect().map(_.getString(0)).toSeq)
  }

  test("jaccard symmetry, bounds, and self-similarity on shingle sets") {
    import spark.implicits._
    val pairs = samples(Gen.zip(textGen, textGen), 25)
    val df = pairs.toDF("ta", "tb")
    val rows = df.select(
      TextFunctions.jaccard(TextFunctions.shingleSet(col("ta"), 2),
        TextFunctions.shingleSet(col("tb"), 2)).as("jab"),
      TextFunctions.jaccard(TextFunctions.shingleSet(col("tb"), 2),
        TextFunctions.shingleSet(col("ta"), 2)).as("jba"),
      TextFunctions.jaccard(TextFunctions.shingleSet(col("ta"), 2),
        TextFunctions.shingleSet(col("ta"), 2)).as("jaa")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(2) == 1.0)
    }
  }

  test("incremental dedup equals brute cross pairs on random split corpora") {
    import spark.implicits._
    // random corpus with planted duplicates: some texts repeated verbatim
    val base = samples(Gen.listOfN(8, wordGen).map(_.mkString(" ")), 40)
    val corpus = base.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      base.take(6).zipWithIndex.map { case (t, i) => (100L + i, t) }
    val df = corpus.toDF("doc_id", "text")
    val old = df.filter(col("doc_id") < 100)
    val fresh = df.filter(col("doc_id") >= 100)
    val inc = graft.operators.Dedup.incrementalDupPairs(old, fresh)
      .collect().map(_.toSeq).toSet
    val sgo = graft.operators.Dedup.shingleSets(old, 3).toDF("da", "sga")
    val sgn = graft.operators.Dedup.shingleSets(fresh, 3).toDF("db", "sgb")
    val j = TextFunctions.jaccard(col("sga"), col("sgb"))
    val brute = sgo.crossJoin(sgn).filter(j >= 0.5)
      .select(round(j, 4), col("da"), col("db"))
      .collect().map(_.toSeq).toSet
    assert(brute.size >= 6)
    assert(inc == brute)
  }

  test("capped minhash equals uncapped when no bucket is hot (self-join and incremental)") {
    import spark.implicits._
    val base = samples(Gen.listOfN(8, wordGen).map(_.mkString(" ")), 40)
    val corpus = base.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      base.take(6).zipWithIndex.map { case (t, i) => (100L + i, t) }
    val df = corpus.toDF("doc_id", "text")
    val uncapped = graft.operators.Dedup.minhashDupPairs(df)
      .collect().map(_.toSeq).toSet
    val capped = graft.operators.Dedup.minhashDupPairsCapped(df, maxBucket = 64)
      .collect().map(_.toSeq).toSet
    assert(uncapped.nonEmpty)
    assert(capped == uncapped)
    val old = df.filter(col("doc_id") < 100)
    val fresh = df.filter(col("doc_id") >= 100)
    val incU = graft.operators.Dedup.incrementalDupPairs(old, fresh)
      .collect().map(_.toSeq).toSet
    val incC = graft.operators.Dedup
      .incrementalDupPairsCapped(old, fresh, maxBucket = 64)
      .collect().map(_.toSeq).toSet
    assert(incU.nonEmpty)
    assert(incC == incU)
  }

  test("hot-bucket cap: planted 60-copy cluster emits linear candidates, same components") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again today"
    val nCopies = 60
    val distinct = samples(Gen.listOfN(12, wordGen).map(_.mkString(" ")), 20)
    val corpus = (0 until nCopies).map(i => (i.toLong, boiler)) ++
      distinct.zipWithIndex.map { case (t, i) => (1000L + i, t) }
    val df = corpus.toDF("doc_id", "text")
    val sg = graft.operators.Dedup.shingleSets(df, 3)
    val sig = graft.operators.Dedup.minhashSignatures(sg, 32).cache()
    try {
      val uncapped = graft.operators.Dedup.lshCandidates(sig, 32, 2).count()
      // the failure shape the ×100 rehearsal measured: quadratic in-bucket
      assert(uncapped >= nCopies.toLong * (nCopies - 1) / 2)
      val capped = graft.operators.Dedup
        .lshCandidatesCapped(sig, 32, 2, maxBucket = 8).count()
      // fingerprint pre-collapse: identical copies star-link to one rep —
      // 59 pairs, not 1770 (plus at most a handful of rep cross pairs)
      assert(capped < 2L * nCopies,
        s"capped emission not linear: $capped pairs for $nCopies copies")
      // the dedup DECISION is unchanged: verified pairs → same components
      def comps(p: org.apache.spark.sql.DataFrame) =
        graft.operators.Dedup.dupComponents(p.select(col("da"), col("db")))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cu = comps(graft.operators.Dedup.minhashDupPairs(df))
      val cc = comps(graft.operators.Dedup.minhashDupPairsCapped(df, maxBucket = 8))
      assert(cu.nonEmpty)
      assert(cc == cu)
    } finally sig.unpersist()
  }

  test("diverse hot bucket: dropped reps stay connected via the min-rep star link") {
    import spark.implicits._
    // 30 near-identical docs: identical 14-word prefix, unique tail word →
    // distinct fingerprints (no pre-collapse), pairwise j = 12/14 ≈ 0.86,
    // so band buckets go hot with DIVERSE members and the rep cap must
    // drop some — the margin path and the min-rep star backstop
    val prefix = (1 to 14).map(i => s"w$i").mkString(" ")
    val df = (0 until 30).map(i => (i.toLong, s"$prefix tail$i"))
      .toDF("doc_id", "text")
    val batch = (100 until 105).map(i => (i.toLong, s"$prefix tail$i"))
      .toDF("doc_id", "text")
    val sg = graft.operators.Dedup.shingleSets(df, 3)
    val sig = graft.operators.Dedup.minhashSignatures(sg, 32).cache()
    val prof = new graft.obs.Profile(spark)
    try {
      // the self-join and the incremental path observe the same margin on
      // this fixture (IngestFoldSpec pins the index probe's)
      val capped = graft.operators.Dedup.lshCandidatesCapped(sig, 32, 2, maxBucket = 4)
      val (cappedN, r) = prof("self-join")(capped.count())
      assert(TestSpark.margins(r, "lsh-cap") == Seq(TestSpark.hotFixtureMargin), r.json)
      val (_, ri) = prof("incremental")(graft.operators.Dedup
        .incrementalDupPairsCapped(df, batch, maxBucket = 4).count())
      assert(TestSpark.margins(ri, "lsh-cap-inc") ==
        Seq(TestSpark.hotFixtureMargin), ri.json)
      val uncappedN = graft.operators.Dedup.lshCandidates(sig, 32, 2).count()
      assert(cappedN < uncappedN)
      // every doc is a true near-dup of every other (j ≈ 0.86 ≥ 0.5): the
      // capped VERIFIED pairs must still connect all 30 into one component
      def comps(p: org.apache.spark.sql.DataFrame) =
        graft.operators.Dedup.dupComponents(p.select(col("da"), col("db")))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cc = comps(graft.operators.Dedup.minhashDupPairsCapped(df, maxBucket = 4))
      assert(cc.size == 30 && cc.map(_._2) == Set(0L),
        s"capped pairs fractured the cluster: $cc")
    } finally { prof.close(); sig.unpersist() }
  }

  test("capped candidates preserve dup COMPONENTS under planted boilerplate") {
    import spark.implicits._
    // the star-link design's central claim, asserted as a partition
    // equality: boilerplate clusters (identical copies → one fingerprint
    // group) collapse to a representative with every member star-linked,
    // so dupComponents over the capped pipeline must equal the uncapped
    // partition EXACTLY — same components, same min-id survivor — while
    // the capped pair list is far smaller. Two clusters (one far over the
    // cap, one under it) plus random distinct docs.
    val bigBoiler = "terms of service apply to all users of this site every day"
    val smallBoiler = "subscribe to our newsletter for updates and exclusive offers now"
    val distinct = samples(Gen.listOfN(12, wordGen).map(_.mkString(" ")), 25)
    val docs = ((0 until 40).map(i => (i.toLong, bigBoiler)) ++
      (0 until 5).map(i => (100L + i, smallBoiler)) ++
      distinct.zipWithIndex.map { case (t, i) => (1000L + i, t) })
      .toDF("doc_id", "text")
    val cap = 8
    val uPairs = graft.operators.Dedup.minhashDupPairs(docs)
    val cPairs = graft.operators.Dedup.minhashDupPairsCapped(docs,
      maxBucket = cap)
    val uComp = graft.operators.Dedup.dupComponents(
      uPairs.select(col("da"), col("db"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cComp = graft.operators.Dedup.dupComponents(
      cPairs.select(col("da"), col("db"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uComp.nonEmpty, "no components formed — vacuous corpus")
    assert(cComp == uComp,
      s"capped components diverge: ${cComp.diff(uComp)} vs ${uComp.diff(cComp)}")
    // and the cap actually did work: the 40-copy cluster's pair list is
    // bounded (star + rep pairs), not the 40·39/2 clique
    val uBig = uPairs.filter(col("da") < 40 && col("db") < 40).count()
    val cBig = cPairs.filter(col("da") < 40 && col("db") < 40).count()
    assert(uBig == 40L * 39 / 2, s"uncapped clique expected, got $uBig")
    assert(cBig < uBig, s"capped pair list not bounded: $cBig vs $uBig")
  }

  test("capped index probe preserves per-batch-doc dup verdicts on a mixed corpus") {
    import spark.implicits._
    // verdict preservation, the ingest loop's contract: the SET of batch
    // docs flagged as duplicates must be identical capped vs uncapped —
    // a batch doc matching a collapsed boilerplate member matches its
    // representative instead, and one that matches nothing stays clean.
    val boiler = "click here to accept cookies and continue to the main content"
    val distinct = samples(Gen.listOfN(12, wordGen).map(_.mkString(" ")), 30)
    val corpus = ((0 until 50).map(i => (i.toLong, boiler)) ++
      distinct.take(20).zipWithIndex.map { case (t, i) => (1000L + i, t) })
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("cap_verdict")
      .resolve("idx").toString
    graft.operators.DedupIndex.writeSignatureIndex(corpus, idx)
    // batch: re-sent boilerplate, re-sent distinct docs, and fresh docs
    // the corpus has never seen
    val batch = (Seq((5000L, boiler), (5001L, distinct(3)), (5002L, distinct(7))) ++
      distinct.drop(20).zipWithIndex.map { case (t, i) => (6000L + i, t) })
      .toDF("doc_id", "text")
    val u = graft.operators.DedupIndex.probeIndex(spark, idx, batch)
      .select(col("db")).distinct().collect().map(_.getLong(0)).toSet
    val c = graft.operators.DedupIndex.probeIndexCapped(
        spark, idx, batch, maxBucket = 8)
      .select(col("db")).distinct().collect().map(_.getLong(0)).toSet
    assert(u.contains(5000L) && u.contains(5001L),
      s"uncapped probe missed planted dups — vacuous: $u")
    assert(c == u, s"verdict sets diverge: capped $c vs uncapped $u")
  }

  test("capped index probe: hot stored bucket bounds fan-out, dup verdicts survive") {
    import spark.implicits._
    // a stored boilerplate cluster (60 identical copies) plus distinct
    // docs; the batch re-sends the boilerplate and one distinct doc
    val boiler = "the quick brown fox jumps over the lazy dog again and again today"
    val nCopies = 60
    val distinct = samples(Gen.listOfN(12, wordGen).map(_.mkString(" ")), 20)
    val corpus = (0 until nCopies).map(i => (i.toLong, boiler)) ++
      distinct.zipWithIndex.map { case (t, i) => (1000L + i, t) }
    val idx = java.nio.file.Files.createTempDirectory("cap_idx")
      .resolve("idx").toString
    graft.operators.DedupIndex.writeSignatureIndex(
      corpus.toDF("doc_id", "text"), idx)
    val batch = Seq((5000L, boiler), (5001L, distinct.head))
      .toDF("doc_id", "text")
    val uncapped = graft.operators.DedupIndex.probeIndex(spark, idx, batch)
    val capped = graft.operators.DedupIndex.probeIndexCapped(
      spark, idx, batch, maxBucket = 8)
    val u = uncapped.filter(col("db") === 5000L).count()
    val c = capped.filter(col("db") === 5000L).count()
    // uncapped: the batch copy pairs every stored copy (the blowup shape);
    // capped: the fingerprint collapse bounds it to the cluster rep
    assert(u == nCopies.toLong, s"expected full fan-out, got $u")
    assert(c >= 1 && c < u, s"capped fan-out not bounded: $c vs $u")
    // the distinct doc's buckets aren't hot: its pairs are IDENTICAL
    val uf = uncapped.filter(col("db") === 5001L)
      .collect().map(_.toSeq).toSet
    val cf = capped.filter(col("db") === 5001L)
      .collect().map(_.toSeq).toSet
    assert(uf.nonEmpty, "distinct batch doc found no stored dup — vacuous")
    assert(cf == uf)
  }

  test("capped index probe equals uncapped when no stored bucket is hot") {
    import spark.implicits._
    val base = samples(Gen.listOfN(8, wordGen).map(_.mkString(" ")), 40)
    val corpus = base.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val batch = base.take(6).zipWithIndex
      .map { case (t, i) => (100L + i, t) }
    val idx = java.nio.file.Files.createTempDirectory("cap_idx_eq")
      .resolve("idx").toString
    graft.operators.DedupIndex.writeSignatureIndex(
      corpus.toDF("doc_id", "text"), idx)
    val b = batch.toDF("doc_id", "text")
    val u = graft.operators.DedupIndex.probeIndex(spark, idx, b)
      .collect().map(_.toSeq).toSet
    val c = graft.operators.DedupIndex.probeIndexCapped(spark, idx, b)
      .collect().map(_.toSeq).toSet
    assert(u.nonEmpty)
    assert(c == u)
  }

  test("capped results compose: two in one query equal their separate union") {
    import spark.implicits._
    // two hot clusters over disjoint doc sets (the diverse-hot-bucket
    // shape): each capped call observes its own margin, so one query may
    // hold both — one shared observation name fails analysis with
    // DUPLICATED_METRICS_NAME
    def cluster(tag: String, ids: Range) = ids.map(i =>
      (i.toLong, (1 to 14).map(w => s"$tag$w").mkString(" ") + s" tail$i"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val (a, b) = (cluster("a", 0 until 30), cluster("b", 100 until 130))
    val pa = graft.operators.Dedup.minhashDupPairsCapped(a, maxBucket = 4)
    val pb = graft.operators.Dedup.minhashDupPairsCapped(b, maxBucket = 4)
    val prof = new graft.obs.Profile(spark)
    try {
      def margins(r: graft.obs.Record) =
        TestSpark.margins(r, "lsh-cap").sortBy(_.mkString(","))
      val (rowsA, ra) = prof("a")(rows(pa))
      val (rowsB, rb) = prof("b")(rows(pb))
      val (both, r) = prof("union")(rows(pa.union(pb)))
      assert(both.nonEmpty && both == rowsA ++ rowsB)
      assert(margins(ra).size == 1 && margins(ra).head(3) > 0, ra.json)
      assert(margins(r) == (margins(ra) ++ margins(rb)).sortBy(_.mkString(",")),
        r.json)
    } finally prof.close()
    val idx = java.nio.file.Files.createTempDirectory("cap_idx_union")
      .resolve("idx").toString
    graft.operators.DedupIndex.writeSignatureIndex(a.unionByName(b), idx)
    val qa = graft.operators.DedupIndex.probeIndexCapped(spark, idx,
      cluster("a", 200 until 205), maxBucket = 4)
    val qb = graft.operators.DedupIndex.probeIndexCapped(spark, idx,
      cluster("b", 300 until 305), maxBucket = 4)
    val both = rows(qa.union(qb))
    assert(both.nonEmpty && both == rows(qa) ++ rows(qb))
  }

  test("chunking reassembles the original token stream for random docs") {
    import spark.implicits._
    val docs = samples(Gen.chooseNum(1, 150), 60).zipWithIndex.map {
      case (n, i) => (i.toLong, (1 to n).map(t => s"w$t").mkString(" "))
    }.toDF("doc_id", "text")
    val ws = split(col("text"), " ")
    val chunks = docs.select(col("doc_id"),
      explode(transform(
        sequence(lit(0), ((size(ws) - 1) / lit(48)).cast("int")),
        k => struct(k.as("chunk_id"),
          concat_ws(" ", slice(ws, k * 48 + 1, lit(64))).as("chunk_text"))))
        .as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.chunk_text"))
      .collect().groupBy(_.getLong(0))
    docs.collect().foreach { d =>
      val toks = d.getString(1).split(" ").toSeq
      val cs = chunks(d.getLong(0)).sortBy(_.getInt(1))
        .map(_.getString(2).split(" ").toSeq)
      // first 48 tokens of each chunk plus the tail of the last = the doc
      val rebuilt = (cs.init.map(_.take(48)).flatten ++ cs.last).toSeq
      assert(rebuilt == toks, s"doc ${d.getLong(0)}")
      // consecutive chunks overlap by exactly the 16-token suffix
      cs.sliding(2).filter(_.length == 2).foreach { pair =>
        val (a, b) = (pair(0), pair(1))
        assert(a.drop(48) == b.take(a.length - 48))
      }
    }
  }

  test("misra-gries contract holds on random streams under random merge splits") {
    val k = 8
    val mg = graft.functions.HeavyHitters(k)
    // skewed streams: a few hot items + a alphabetic long tail
    val itemGen: Gen[String] = Gen.frequency(
      6 -> Gen.oneOf("hot1", "hot2", "hot3"),
      4 -> Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString))
    val streamGen: Gen[List[String]] = Gen.listOfN(400, itemGen)
    samples(streamGen, 20).zipWithIndex.foreach { case (stream, i) =>
      // random split into 1..5 chunks, each reduced independently, merged
      // pairwise — exercising exactly Spark's partial-aggregation path
      val nChunks = 1 + (i % 5)
      val chunks = stream.grouped(math.max(1, stream.size / nChunks)).toSeq
      val sketch = chunks
        .map(_.foldLeft(mg.zero)(mg.reduce))
        .reduce(mg.merge)
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = stream.size.toLong
      val thr = n / (k + 1)
      assert(sketch.size <= k)
      exact.foreach { case (w, cnt) =>
        val est = sketch.getOrElse(w, 0L)
        assert(est <= cnt, s"overestimate for $w: $est > $cnt")
        assert(cnt - est <= thr, s"undercount beyond n/(k+1) for $w: $cnt - $est > $thr")
        if (cnt > thr) assert(sketch.contains(w), s"heavy item $w missing")
      }
    }
  }

  test("containment pairs equal an all-pairs scan on random truncated corpora") {
    import spark.implicits._
    // random 6-12 word docs over a small vocab, plus planted prefixes,
    // suffixes, middle slices, and verbatim copies of some of them
    val vocab = Vector("ax", "bx", "cx", "dx", "ex", "fx", "gx")
    val docGen = Gen.choose(6, 12).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf(vocab)))
    val base = samples(docGen, 30).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws) }
    val planted = base.take(8).zipWithIndex.flatMap { case ((id, ws), i) =>
      val cut = i % 3 match {
        case 0 => ws.drop(1)                   // suffix
        case 1 => ws.dropRight(2)              // prefix
        case _ => ws.drop(1).dropRight(1)      // middle slice
      }
      Seq((200L + id, cut), (300L + id, ws))   // slice + verbatim copy
    }
    val corpus = base ++ planted
    val df = corpus.map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.containmentPairs(df, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: contiguous word-subsequence containment, same tiebreak
    val eligible = corpus.filter(_._2.size >= 5)
    val brute = (for {
      (ida, a) <- eligible
      (idb, b) <- eligible
      if ida != idb && b.containsSlice(a)
      la = a.mkString(" ").length; lb = b.mkString(" ").length
      if lb > la || (lb == la && idb < ida)
    } yield (ida, idb)).toSet
    assert(brute.nonEmpty)
    assert(got == brute,
      s"missing=${brute -- got} spurious=${got -- brute}")
  }

  test("cross-doc dup-gram counts equal a brute-force scan on random corpora") {
    import spark.implicits._
    // 3-symbol vocab makes 5-gram collisions across docs common
    val vocab = Vector("qa", "qb", "qc")
    val docGen = Gen.choose(4, 10).flatMap(k => Gen.listOfN(k, Gen.oneOf(vocab)))
    val corpus = samples(docGen, 40).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws) }
    val df = corpus.map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = graft.operators.Curation.crossDocDupCounts(df, n = 5, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_shared"))).toMap
    val gramsBy = corpus.collect { case (id, ws) if ws.size >= 5 =>
      id -> ws.sliding(5).map(_.mkString(" ")).toSet }
    val docFreq = gramsBy.flatMap(_._2.toSeq)
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got.keySet == gramsBy.map(_._1).toSet)
    var anyShared = false
    gramsBy.foreach { case (id, gs) =>
      val nShared = gs.count(g => docFreq(g) >= 2).toLong
      anyShared ||= nShared > 0
      assert(got(id) == (gs.size.toLong, nShared), s"doc $id")
    }
    assert(anyShared, "corpus planted no shared grams — test is vacuous")
  }

  test("dedup index upsert sequences equal a from-scratch build") {
    import spark.implicits._
    import graft.operators.DedupIndex
    // random corpora with verbatim copies and revisions, applied as a bulk
    // build plus two upsert batches (adds + re-crawls); the maintained
    // index must hold exactly the bands/shingles of a from-scratch build
    // on the final corpus, and a probe must answer identically
    val docGen = Gen.choose(6, 12)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf("pa", "pb", "pc", "pd")))
      .map(_.mkString(" "))
    val texts = samples(docGen, 24)
    val v1 = texts.take(16).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val addsA = texts.slice(16, 20).zipWithIndex
      .map { case (t, i) => (100L + i, t) }
    val recrawlA = v1.take(3).map { case (id, t) => (id, t + " reva") }
    val addsB = texts.slice(20, 24).zipWithIndex
      .map { case (t, i) => (200L + i, t) }
    val recrawlB = (addsA.take(1) ++ recrawlA.take(1))
      .map { case (id, t) => (id, t + " revb") }
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx_prop")
    val inc = dir.resolve("inc").toString
    val scratch = dir.resolve("scratch").toString
    DedupIndex.writeSignatureIndex(v1.toDF("doc_id", "text"), inc)
    DedupIndex.upsertSignatureIndex((addsA ++ recrawlA).toDF("doc_id", "text"), inc)
    DedupIndex.upsertSignatureIndex((addsB ++ recrawlB).toDF("doc_id", "text"), inc)
    // final corpus state after both batches (later revision wins)
    val finalDocs = (v1 ++ addsA ++ recrawlA ++ addsB ++ recrawlB)
      .groupBy(_._1).map { case (id, vs) => (id, vs.last._2) }.toSeq
    DedupIndex.writeSignatureIndex(finalDocs.toDF("doc_id", "text"), scratch)
    def bands(p: String) = DedupIndex.index(p).read(spark)
      .collect().map(_.toSeq).toSet
    def shingles(p: String) = DedupIndex.index(p).readData(spark)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Seq[String]]("sg").toSet)).toSet
    assert(bands(inc) == bands(scratch), "band tables diverged")
    assert(shingles(inc) == shingles(scratch), "shingle tables diverged")
    val probe = finalDocs.take(5)
      .map { case (id, t) => (1000L + id, t) }.toDF("doc_id", "text")
    val a = DedupIndex.probeIndex(spark, inc, probe)
      .collect().map(_.toSeq).toSet
    val b = DedupIndex.probeIndex(spark, scratch, probe)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("span scrub equals an independent reference on random duplicated corpora") {
    import spark.implicits._
    // small vocabulary + short docs force cross-doc 5-gram collisions
    val smallWord = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val docGen = Gen.choose(3, 14).flatMap(k => Gen.listOfN(k, smallWord))
    val allDocs = samples(docGen, 75).map(_.mkString(" "))
    val planted = "xx yy zz xx yy" // a guaranteed cross-doc duplicated span
    val corpora = (0 until 3).map { c =>
      (0 until 25).map { i =>
        val t = allDocs(c * 25 + i)
        (i.toLong, if (i < 2) s"$t $planted" else t)
      }
    }
    corpora.foreach { corpus =>
      // reference: brute-force covered sets on the driver
      val grams = corpus.map { case (id, t) =>
        id -> t.split(" ").sliding(5).filter(_.length == 5)
          .map(_.mkString(" ")).toVector
      }.toMap
      val docFreq = grams.toSeq.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (g, v) => g -> v.map(_._2).distinct.size }
      val expect = corpus.map { case (id, t) =>
        val ws = t.split(" ")
        val covered = grams(id).zipWithIndex.collect {
          case (g, i) if docFreq(g) >= 2 => (i until i + 5)
        }.flatten.toSet
        val kept = ws.zipWithIndex.collect {
          case (w, i) if !covered(i) => w
        }
        (id, ws.length.toLong, kept.length.toLong, kept.mkString(" "))
      }.toSet
      val got = graft.operators.Curation
        .scrubDuplicatedSpans(corpus.toDF("doc_id", "text"), n = 5, minDocs = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got == expect)
      // the test is vacuous unless something was actually excised
      assert(expect.exists { case (_, nw, nk, _) => nk < nw })
    }
  }

  test("contamination counts equal an independent reference on random corpora") {
    import spark.implicits._
    // small vocabulary + short docs force cross-split 5-gram overlap
    val smallWord = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen = Gen.choose(2, 13).flatMap(k => Gen.listOfN(k, smallWord))
    val texts = samples(docGen, 60).map(_.mkString(" "))
    val planted = "pp qq rr ss tt" // guaranteed eval<->train overlap
    val corpora = (0 until 3).map { c =>
      (0 until 20).map { i =>
        val t = texts(c * 20 + i)
        // plant the span in one eval doc (i==0: doc_id%10==0) and a few
        // train docs, so both contaminated and clean docs exist
        ((c * 20 + i).toLong, if (i == 0 || i % 7 == 1) s"$t $planted" else t)
      }
    }
    corpora.foreach { corpus =>
      val evalSh = corpus.filter(_._1 % 10 == 0)
        .flatMap { case (_, t) =>
          t.split(" ", -1).sliding(5).filter(_.length == 5).map(_.mkString(" "))
        }.toSet
      val expect = corpus.filter(_._1 % 10 != 0).flatMap { case (id, t) =>
        val sh = t.split(" ", -1).sliding(5).filter(_.length == 5)
          .map(_.mkString(" ")).toVector.distinct
        if (sh.isEmpty) None
        else Some((id, sh.size.toLong, sh.count(evalSh).toLong))
      }.toSet
      val df = corpus.toDF("doc_id", "text")
      val train = df.filter(col("doc_id") % 10 =!= 0)
      val ev = df.filter(col("doc_id") % 10 === 0)
      for (litMax <- Seq(graft.operators.Curation.modelLiteralMax, 0L)) {
        val got = graft.operators.Curation
          .contaminationCounts(train, ev, n = 5, evalLiteralMax = litMax)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == expect, s"evalLiteralMax=$litMax")
      }
      // vacuity guards: some doc contaminated, some doc clean
      assert(expect.exists(_._3 > 0) && expect.exists(_._3 == 0))
    }
  }

  test("transition scores match an independent reimplementation on random corpora") {
    import spark.implicits._
    // small word pool forces bigram repeats (the c2 > 1 paths)
    val poolTextGen: Gen[String] = Gen.chooseNum(1, 10).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c", "dd", "ee")).map(_.mkString(" ")))
    def reference(corpus: Seq[(Long, String)]): Map[Long, (Long, Long)] = {
      val bigrams = corpus.map { case (id, t) =>
        val ws = t.split(" ", -1).toSeq
        id -> ws.sliding(2).filter(_.size == 2)
          .map(p => (p(0), p(0) + " " + p(1))).toSeq
      }
      val allBg = bigrams.flatMap(_._2)
      val c2 = allBg.groupBy(_._2).map { case (g, l) => g -> l.size.toLong }
      val c1 = allBg.groupBy(_._1).map { case (w, l) => w -> l.size.toLong }
      val v = corpus.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty)
        .distinct.size.toLong
      bigrams.collect { case (id, bgs) if bgs.nonEmpty =>
        val tot = bgs.map { case (w1, g) =>
          ((c1(w1) + v) * 1048576L) / (c2(g) + 1L) }.sum
        id -> (bgs.size.toLong, tot / bgs.size)
      }.toMap
    }
    (0 until 5).foreach { round =>
      val corpus = samples(poolTextGen, 30).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val got = graft.operators.Curation
        .transitionScores(corpus.toDF("doc_id", "text"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == reference(corpus), s"round $round")
      assert(got.nonEmpty)
    }
  }

  test("importance scores match an independent reimplementation on random corpora") {
    import graft.operators.{Classifier, Curation}
    import spark.implicits._
    val nB = 16
    def bucket(w: String): Int =
      (w.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 2147483647L) % nB).toInt
    def hist(texts: Seq[String]): Array[Long] = {
      val h = Array.fill(nB)(1L) // add-one smoothing
      texts.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
        .foreach(w => h(bucket(w)) += 1)
      h
    }
    val target = samples(textGen, 20)
    val raw = samples(textGen, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val t = hist(target); val r = hist(raw.map(_._2))
    val expectL = Array.tabulate(nB)(b => (t(b) * 1048576L) / r(b))
    val l = Curation.importanceRatios(
      target.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "text"),
      raw.toDF("doc_id", "text"), "text", nB)
    assert(l.toSeq == expectL.toSeq)
    // deployed scoring expression == reference dot product per doc
    val scored = raw.toDF("doc_id", "text")
      .select(col("doc_id"), Classifier.scoreExpr(
        Classifier.hashedCounts(col("text"), nB), l, 0L).as("iw"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    raw.foreach { case (id, text) =>
      val expect = text.split(" ", -1).filter(_.nonEmpty)
        .map(w => expectL(bucket(w))).sum
      assert(scored(id) == expect, s"doc $id")
    }
  }

  test("stub tts output length bounded and deterministic") {
    val tts = new StubTts
    samples(textGen, 30).foreach { t =>
      val b = tts.synthesizeBatch(Seq(t)).head
      assert(b.length >= 16 && b.length <= 4096)
      assert(b.toSeq == tts.synthesizeBatch(Seq(t)).head.toSeq)
    }
  }

  test("LshBuckets is bit-identical to the composed bucketExpr on random vectors") {
    // the load-bearing claim of the native expression: an index built
    // under either formulation probes correctly under the other. Random
    // vectors incl. negatives, zeros, and sub-normal-ish magnitudes;
    // three plane sets of mixed widths against the single-table composed
    // form, evaluated per table.
    import spark.implicits._
    val dim = 16
    val vecGen: Gen[Seq[Float]] = Gen.listOfN(dim,
      Gen.chooseNum(-4.0f, 4.0f)).map(_.toSeq)
    val vecs = samples(vecGen, 120) :+ Seq.fill(dim)(0.0f)
    val planeSets = (0 until 3).map(t =>
      graft.operators.Similarity.hyperplanes(dim, 2 + t, seed = 77L + t))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb").repartition(4)
    val native = df.select(col("id"),
        graft.functions.LshBuckets(col("emb"), planeSets).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    planeSets.zipWithIndex.foreach { case (planes, t) =>
      val composed = df.select(col("id"),
          graft.operators.Similarity.bucketExprComposed(col("emb"), planes)
            .as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      composed.foreach { case (id, b) =>
        assert(native(id)(t) == b, s"vector $id, table $t")
      }
    }
  }

  test("NearestCentroid is bit-identical to the composed assignment") {
    // the IVF-assignment member of the literal-table parity family: list
    // assignments under either formulation must route to the same
    // partitions. Trained (unit-normalized, near-tie-prone) centroids via
    // ivfCentroids; vectors include negatives and the zero vector — the
    // zero vector is the signed-zero edge the first-product-seeded dot
    // exists for (an all-(-0.0)-products dot must stay -0.0, not 0.0).
    import spark.implicits._
    val dim = 12
    val vecGen: Gen[Seq[Float]] = Gen.listOfN(dim,
      Gen.chooseNum(-4.0f, 4.0f)).map(_.toSeq)
    val vecs = samples(vecGen, 150) :+ Seq.fill(dim)(0.0f)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb").repartition(4)
    val cents = graft.operators.Similarity.ivfCentroids(df, "emb", "id", 6)
    val native = df.select(col("id"),
        graft.operators.Similarity.nearestListExpr(col("emb"), cents)
          .as("l"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val composed = df.select(col("id"),
        graft.operators.Similarity.nearestListExprComposed(col("emb"), cents)
          .as("l"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(native.nonEmpty && native.size == composed.size)
    composed.foreach { case (id, l) =>
      assert(native(id) == l, s"vector $id: native ${native(id)} vs $l")
    }
  }

  test("NearestCentroid signed-zero parity: zero vector vs opposite-sign centroids") {
    // the zero vector dots to +0.0 against a positive-leading centroid
    // and -0.0 against an all-negative one; Spark's ordering ties the two
    // (→ HIGHEST centroid id), while bare Double.compare would pin the
    // winner to the +0.0 centroid regardless of index.
    import spark.implicits._
    val dim = 4
    val cents: Array[Array[Double]] = Array(
      Array.fill(dim)(1.0),   // dot +0.0 on the zero vector
      Array.fill(dim)(-1.0))  // dot -0.0 on the zero vector
    val df = Seq((0L, Seq.fill(dim)(0.0f))).toDF("id", "emb")
    val native = df.select(
      graft.operators.Similarity.nearestListExpr(col("emb"), cents))
      .head.getInt(0)
    val composed = df.select(
      graft.operators.Similarity.nearestListExprComposed(col("emb"), cents))
      .head.getInt(0)
    assert(native == composed, s"native $native vs composed $composed")
    assert(composed == 1) // the ±0.0 tie resolves to the highest id
  }

  test("PqEncode is bit-identical to the composed encode on random vectors") {
    // same load-bearing claim as the LshBuckets parity: codes stored by
    // either formulation must probe correctly under the other. Trained
    // codebooks (not random ones) so ties and near-ties occur the way
    // they do in production; vectors include negatives and a zero vector
    // (vecNorm guards it to norm 1).
    import spark.implicits._
    val dim = 16; val m = 4; val k = 8
    val vecGen: Gen[Seq[Float]] = Gen.listOfN(dim,
      Gen.chooseNum(-4.0f, 4.0f)).map(_.toSeq)
    val vecs = samples(vecGen, 150) :+ Seq.fill(dim)(0.0f)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb").repartition(4)
    val books = graft.operators.Pq.trainCodebooks(df, "emb", "id", m, k)
    val base = df.withColumn("n",
      graft.operators.Pq.vecNorm(col("emb"), dim))
    val native = base.select(col("id"),
        graft.operators.Pq.encodeExpr(col("emb"), col("n"), books).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val composed = base.select(col("id"),
        graft.operators.Pq.encodeExprComposed(col("emb"), col("n"), books)
          .as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native.nonEmpty && native.size == composed.size)
    composed.foreach { case (id, c) =>
      assert(native(id) == c, s"vector $id: native ${native(id)} vs $c")
    }
  }

  test("PqEncode signed-zero parity: +0.0 vs -0.0 zero codewords") {
    // the signed-zero ordering edge: a positive vector against an
    // all-(-0.0) codeword scores -0.0 (hs = 0), against an all-(+0.0)
    // sibling +0.0. Spark's double ordering (SQLOrderingUtil) treats the
    // two as EQUAL, so greatest(struct(score, i)) ties to the HIGHEST
    // index — a native loop comparing with bare java Double.compare would
    // instead rank +0.0 strictly above -0.0 and pin the winner to index 0.
    // Handcrafted books — training never emits -0.0, but a deserialized
    // or externally-built codebook can.
    import spark.implicits._
    val dim = 8; val m = 2; val subDim = dim / m
    val books: Array[Array[Array[Double]]] = Array.fill(m)(Array(
      Array.fill(subDim)(0.0),   // dot = +0.0 (positive vec), score +0.0
      Array.fill(subDim)(-0.0),  // dot = -0.0 under the left fold
      Array.fill(subDim)(-1.0))) // a real codeword: negative score
    val vecs = Seq(Seq.fill(dim)(1.0f), Seq.fill(dim)(0.25f),
      Seq.tabulate(dim)(d => (d + 1).toFloat))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb")
    val base = df.withColumn("n",
      graft.operators.Pq.vecNorm(col("emb"), dim))
    val native = base.select(col("id"),
        graft.operators.Pq.encodeExpr(col("emb"), col("n"), books).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val composed = base.select(col("id"),
        graft.operators.Pq.encodeExprComposed(col("emb"), col("n"), books)
          .as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.indices.foreach { i =>
      assert(native(i.toLong) == composed(i.toLong),
        s"vector $i: native ${native(i.toLong)} vs ${composed(i.toLong)}")
      // and the winner is the ±0.0 TIE resolved to the highest zero
      // codeword index (1), never the negative real codeword (2)
      assert(composed(i.toLong) == Seq.fill(m)(1))
    }
  }
}
