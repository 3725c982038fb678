package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-property regression tests: the physical-plan shapes the 100 TB
  * design depends on, asserted so a refactor can't silently lose them.
  * Values are checked by the oracle gate; THESE tests pin how the work is
  * done — pushdown reaching scans, top-k without global sorts, dimension
  * broadcasts, and the absence of cross products in every declared query.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(name: String, d: String = TestSpark.sf0001): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scans") {
    assert(plan("q01_pricing_summary").contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(plan("q03_top_orders").contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"))
    assert(plan("q05_nation_revenue").contains("EqualTo(r_name,ASIA)"))
  }

  test("top-k queries use TakeOrderedAndProject, never a global sort") {
    Seq("q03_top_orders", "q31_word_freq", "q40_knn_cosine").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
    }
  }

  test("star-join dimensions broadcast") {
    val p = plan("q05_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("aggregations are partial+final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    // one partial and one final HashAggregate pass around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange"), p)
  }

  test("windows are partitioned, not single-partition, in scale paths") {
    // q94 packing: window partitioned by source
    val p = plan("q94_seq_packing")
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"global window sort crept into q94:\n$p")
  }

  test("lakehouse/curation batch keeps its scale shapes") {
    // q104: the Bloom prefilter (the codegen'd native probe) sits on the
    // fact scan before the join — the scan-side prune is the point of the
    // operator
    val p104 = plan("q104_bloom_join")
    assert(p104.contains("bloom_contains_long"), s"bloom prefilter missing:\n$p104")
    assert(!p104.contains("UDF"), s"bloom probe regressed to a UDF:\n$p104")
    assert(!p104.contains("CartesianProduct"), p104)
    // q105: the block-dedup window is keyed on xxhash64(block), never a
    // single-partition sort
    val p105 = plan("q105_paragraph_dedup")
    assert(p105.contains("Window"), p105)
    assert(!p105.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"global window sort crept into q105:\n$p105")
    // q107: SCD2 window partitioned by the dimension key
    val p107 = plan("q107_scd2")
    assert(p107.contains("Window"), p107)
    assert(!p107.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"global window sort crept into q107:\n$p107")
    // q108: top-20 by z is TakeOrderedAndProject, not a global sort
    assert(plan("q108_zorder").contains("TakeOrderedAndProject"))
    // q113: the derived-rate dim joins broadcast, the doc side never shuffles
    val p113 = plan("q113_mix_rebalance")
    assert(p113.contains("BroadcastHashJoin"), p113)
    // q117: the Q21 shape must run as the aggregation rewrite — one
    // fact-order join, NO fact-fact self-join (the EXISTS form would add
    // two more joins of lineitem against itself)
    val p117 = plan("q117_exclusive_blame")
    val factJoins = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p117).size
    assert(factJoins <= 1, s"q117 self-joins the fact table:\n$p117")
  }

  test("group top-k prunes map-side: native WindowGroupLimit, measured") {
    // The declarative window form (q07) must keep Catalyst's
    // InferWindowGroupLimit rewrite: a PARTIAL WindowGroupLimit before the
    // exchange keeps ≤ k rows per group per input partition, so the
    // shuffle carries survivors, not the table. (Round-4 lesson: a
    // hand-rolled mapPartitions prune measured IDENTICAL shuffle volume to
    // this builtin — trust Catalyst, pin the plan property instead.)
    val p07 = plan("q07_topn_per_nation")
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p07).isDefined,
      s"map-side group-limit prune missing from q07:\n$p07")
    // quantitative: on a 4-partition 1500-row input, the window exchange
    // carries ≤ partitions·k·groups = 300 records, not 1500
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def nodes(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    }) :+ p
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val topk = Tables.customer(spark, TestSpark.sf001)
      .select("c_nationkey", "c_custkey", "c_acctbal")
      .repartition(4)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    topk.collect()
    val written = nodes(topk.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeLike =>
        // fail loudly if Spark renames the metric — a silent 0 would make
        // the prune assertion below vacuously true
        s.metrics.get("shuffleRecordsWritten").map(_.value)
          .getOrElse(fail(s"shuffleRecordsWritten metric missing on $s"))
    }.sorted
    // exchanges: the repartition (1500) and the pruned window shuffle (≤300)
    assert(written.nonEmpty && written.head <= 4L * 3 * 25,
      s"window exchange not pruned: $written")
  }

  test("no declared query plans a cartesian product (except documented brute baselines)") {
    // brute-force oracle baselines are deliberately O(n²); everything else
    // must stay cross-product-free
    val bruteBaselines = Set(
      "q34_jaccard_dupes", "q45_embedding_neardup", "q53_deciles")
    val streamingOrSideEffect = Set(
      // streaming drains + sink round trips can't be planned statically here
      "q67_stream_sessions", "q76_stream_hourly", "q88_stream_attribution",
      "q98_stream_session_window", "q71_lake_roundtrip", "q43_rag_retrieve",
      "q73_rag_portable", "q132_fts_upsert", "q166_orc_roundtrip")
    SparkEntry.defs
      .filterNot(q => bruteBaselines(q.name) || streamingOrSideEffect(q.name))
      .foreach { q =>
        val p = try plan(q.name) catch { case _: Throwable => "" }
        assert(!p.contains("CartesianProduct"),
          s"${q.name} plans a CartesianProduct")
      }
  }

  test("fts/sketch queries keep their scale shapes") {
    // BM25: stats + df broadcast; final ranking is TakeOrderedAndProject
    val p129 = plan("q129_bm25_rank")
    assert(p129.contains("TakeOrderedAndProject"), s"q129:\n$p129")
    assert(p129.contains("BroadcastExchange"), s"q129:\n$p129")
    // phrase: the slots dim broadcasts; no cartesian anywhere
    val p128 = plan("q128_fts_phrase")
    assert(p128.contains("BroadcastExchange"), s"q128:\n$p128")
    // heavy hitters: the typed Aggregator must run as partial+final
    // object aggregation (executor-side k-counter partials), never a
    // single-partition collapse before aggregating
    val p131 = plan("q131_heavy_hitters")
    assert(p131.contains("ObjectHashAggregate") ||
      p131.contains("SortAggregate"), s"q131:\n$p131")
    assert(p131.contains("partial"), s"q131 lacks partial aggregation:\n$p131")
  }

  test("orc round trip: partition filter and predicate both reach the scan") {
    val p = plan("q166_orc_roundtrip")
    assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(p).isDefined,
      s"q166 lang filter not pruning ORC partitions:\n$p")
    assert("PushedFilters: \\[[^\\]]*n_chars".r.findFirstIn(p).isDefined,
      s"q166 n_chars predicate not pushed to the ORC reader:\n$p")
  }

  test("data-selection queries keep their scale shapes") {
    // q161: the DSIR ratio table is a literal model constant — scoring
    // must plan with NO join anywhere; the rank + per-source count windows
    // share ONE hash partitioning on source
    val p161 = plan("q161_importance_resample")
    assert(!p161.contains("Join"), s"q161 grew a join:\n$p161")
    assert("Exchange hashpartitioning".r.findAllIn(p161).size == 1,
      s"q161 windows no longer share one source exchange:\n$p161")
    // q163: anchors are a broadcast model-sized side, and the per-anchor
    // top-3 is cut map-side (WindowGroupLimit) before the exchange
    val p163 = plan("q163_hard_negatives")
    assert(p163.contains("BroadcastNestedLoopJoin"),
      s"q163 anchors not broadcast:\n$p163")
    assert(p163.contains("WindowGroupLimit"),
      s"q163 lost the pre-shuffle rank cut:\n$p163")
  }

  test("q117 plans as a two-level aggregate, never a countDistinct Expand") {
    // two countDistinct aggs would plan an Expand that triples fact rows
    // before the exchange — the rewrite this pin protects replaced them
    // with per-(order,supplier) max + plain counts
    val p = plan("q117_exclusive_blame")
    assert(!p.contains("Expand"), s"q117 re-grew an Expand:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q117 top-k regressed:\n$p")
  }

  test("every collect() in main is enumerated and bounded (no data-sized collects)") {
    // Driver-side collect is only legitimate when the result is BOUNDED by
    // construction — a broadcast-dim-sized table, a merge rule, a sketch
    // per group. This whitelist documents the bound for every call site;
    // adding a .collect() anywhere else fails here and forces the same
    // review. (.head/.first/limit-k reads are 1-row/k-row by construction
    // and are not in scope.)
    val bounded: Map[String, (Int, String)] = Map(
      "operators/Similarity.scala" ->
        (2, "IVF trainer: nLists-capped centroid init + one mean-vector row per list"),
      "operators/BpeTrainer.scala" ->
        (1, "BPE argmax merge rule: limit(1), one row per round"),
      "operators/Lakehouse.scala" ->
        (1, "CDC bucket merge: <= nBuckets affected-bucket ids"),
      "operators/DedupIndex.scala" ->
        (3, "probe: hit band-bucket set (<= nBuckets, fused-stats fallback) + candidate shingle-bucket set (<= nDocBuckets); ingestBatch: fused batch-stats rows (2: validation counts + <= nBuckets/nDocBuckets bucket sets)"),
      "operators/Pq.scala" ->
        (2, "PQ trainer: k-row codebook init (k <= 256) + one mean row per occupied code per subspace"),
      "operators/IvfPq.scala" ->
        (1, "probe: rerank-capped candidate-id point-lookup keys (<= 1024)"),
      "operators/SimilarityQueries.scala" ->
        (4, "q158/q172/q173/q176 evals: nQ=10 query-vector rows each (literal bound)"),
      "operators/LshIndex.scala" ->
        (2, "batchProbe/batchProbeMulti: probe-partition unions (<= 2^numPlanes / <= anchors×L)"),
      "operators/CurationQueries.scala" ->
        (1, "q109 CMS: one serialized sketch per language"),
      "operators/Curation.scala" ->
        (3, "balancedShards rank offsets: one count row per range partition (<= rangeParts); transitionScores literal path: model rows, guarded <= modelLiteralMax (2^18); contaminationCounts literal path: eval hash set, guarded <= evalLiteralMax via limit(max+1)"),
      "llm/WeightsFileLlm.scala" ->
        (2, "LM trainer: vocab rows (<= maxVocab <= 4096) + transition rows (<= maxVocab^2, post-aggregation)"),
      "Profile.scala" ->
        (4, "dev-only profiler main, probes mode: top-10 LSH, ADC and brute-scan probe rows + phrase-hit rows (posting-intersection-sized, the served result), materialized for the timing harness"),
      "llm/RagPipeline.scala" ->
        (1, "RAG context assembly: top-k rows, k<=3 by construction"))
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val collectRe = "\\.collect\\(\\)|\\.collectAsList\\(\\)|\\.toLocalIterator".r
    val found = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val rel = root.relativize(p).toString
        val n = collectRe.findAllIn(
          java.nio.file.Files.readString(p)).size
        if (n > 0) found(rel) = n
      }
    }
    val unexpected = found.filterNot { case (f, n) =>
      bounded.get(f).exists(_._1 == n)
    }
    assert(unexpected.isEmpty,
      s"collect() call sites not in the bounded whitelist (add only with a documented bound): $unexpected")
    val stale = bounded.keys.filterNot(found.contains)
    assert(stale.isEmpty, s"whitelist entries with no collect anymore: $stale")
  }

  test("index tables are read only through BucketedIndex's one reader") {
    // a raw read of an index table serves uncommitted rows and rows whose
    // id was tombstoned by a newer upsert; every engine read of one goes
    // through BucketedIndex.committed. The index files and the queries
    // over them read no parquet directly, and every other main-source
    // read.parquet is enumerated here with what it reads.
    val allowed: Map[String, (Int, String)] = Map(
      "operators/BucketedIndex.scala" ->
        (2, "THE reader: an index table and its tombstones"),
      "Tables.scala" -> (1, "the benchmark tables"),
      "jobs/Warehouse.scala" -> (1, "warehouse partition compaction"),
      "jobs/PipelineJobs.scala" -> (4, "lake and RAG-index parquet of the reference pipeline jobs"),
      "streaming/EventsStream.scala" -> (1, "the staged events schema"),
      "operators/CurationQueries.scala" -> (1, "q145's pair sink"),
      "operators/Lakehouse.scala" -> (1, "CDC dimension buckets"),
      "operators/LakehouseQueries.scala" -> (1, "q111's dimension tree"),
      "operators/AdvancedQueries.scala" -> (1, "the lake of the ingest query"))
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val found = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val n = "read\\.parquet\\(".r
          .findAllIn(java.nio.file.Files.readString(p)).size
        if (n > 0) found(root.relativize(p).toString) = n
      }
    }
    val unexpected = found.filterNot { case (f, n) =>
      allowed.get(f).exists(_._1 == n)
    }
    assert(unexpected.isEmpty,
      s"read.parquet call sites outside the enumerated set: $unexpected")
    val stale = allowed.keys.filterNot(found.contains)
    assert(stale.isEmpty, s"enumerated sites with no read anymore: $stale")
  }

  test("one metrics collector: only obs/Profile registers or defines listeners") {
    // a second hand-rolled listener is how the mains ended up counting
    // different things with different drain bugs; every counter goes
    // through graft.obs.Profile instead
    val listenerRe = ("addSparkListener|listenerManager\\.register|" +
      "(extends|with|new)\\s+([\\w.]+\\.)?(SparkListener|QueryExecutionListener)\\b").r
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".scala") && !rel.matches("graft/obs/Profile[^/]*\\.scala") &&
          listenerRe.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
        offenders += rel
    }
    assert(offenders.isEmpty, s"listeners outside graft/obs/Profile: $offenders")
  }

  test("one pin check: only BucketedIndex reads, writes or names a config pin") {
    // per-family pin checks drifted into seven checks of two strengths
    // under three file names; every family now goes through
    // BucketedIndex.requirePin, and a new check must not grow elsewhere
    val pinRe = "(read|write)ConfigPin|\"config(\\.json)?\"|_meta/config".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".scala") && rel != "graft/operators/BucketedIndex.scala" &&
          pinRe.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
        offenders += rel
    }
    assert(offenders.isEmpty, s"config pins handled outside BucketedIndex: $offenders")
  }

  test("contamination eval shingles broadcast at plan time, not via AQE") {
    // the ×1000-rehearsal find: eval benchmarks are bounded by
    // construction, but the static planner estimates the join side from
    // the eval SCAN size — at ×1000 it planned a sort-merge join and the
    // corpus side's 226 M shingle rows had already materialized as a
    // shuffle stage before AQE's runtime stats flipped the join to
    // broadcast (the flip saved the join, not the exchange; 239 M → 4.6 M
    // shuffle records with the explicit hint). Pin the static plan: the
    // contamination join must be a broadcast join in the SPARK PLAN before
    // any AQE re-optimization, at every scale.
    // the JOIN plan is now the above-guard path (the default q90 plan is
    // the literal ContamCounts scan, asserted joinless below); force it
    // with evalLiteralMax = 0 and pin the static broadcast
    import org.apache.spark.sql.functions.col
    val all = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val p = graft.operators.Curation.contaminationCounts(
        train = all.filter(col("doc_id") % 10 =!= 0),
        eval = all.filter(col("doc_id") % 10 === 0), n = 5,
        broadcastEval = true, evalLiteralMax = 0)
      .queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"contamination join not statically broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side SMJ planned:\n$p")
    // default path: literal-table scan — no join of any kind in the plan
    val q90 = SparkEntry.queries("q90_contamination")(spark, TestSpark.sf0001)
      .queryExecution.sparkPlan.toString
    assert(q90.contains("contam_counts"), s"q90 not on the literal path:\n$q90")
    assert(!q90.contains("Join"), s"q90 literal path plans a join:\n$q90")
  }

  test("production-geometry vector pipelines compile with codegen fallback off") {
    // the janino-overflow regression class: each native expression compiles
    // ALONE (TextFunctionsSpec), but the overflows that actually shipped
    // were compositional — a composed encode/bucket/assign inlined into a
    // projection or aggregate stage grew past janino's 64 KB method limit
    // at PRODUCTION geometry only, and the stage silently fell back to
    // interpreted eval (caught by a stderr audit of a full Verify run, not
    // by any green test). Pin the fix end-to-end: the three pipelines that
    // carried the five fallbacks — q84/q136's 16-plane × 64-dim sign
    // bucketing, q62's 8-list × 64-dim centroid assignment, and the
    // m=8 × k=16 PQ encode — execute at that geometry with fallback OFF,
    // so a reintroduced overflow (or a new giant composed expression in
    // these paths) fails here instead of silently interpreting.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val dim = 64
      val vecs = (0 until 40).map { i =>
        (i.toLong, Seq.tabulate(dim)(d => math.sin(i * 31 + d).toFloat))
      }.toDF("vec_id", "embedding")
      graft.operators.Dedup.embeddingDupPairs(vecs, "embedding", "vec_id")
        .collect()
      val cents = graft.operators.Similarity.ivfCentroids(
        vecs, "embedding", "vec_id", 8)
      graft.operators.Similarity.ivfAssign(vecs, "embedding", cents).collect()
      val books = graft.operators.Pq.trainCodebooks(
        vecs, "embedding", "vec_id", 8, 16)
      vecs.withColumn("n", graft.operators.Pq.vecNorm(col("embedding"), dim))
        .select(graft.operators.Pq.encodeExpr(col("embedding"), col("n"),
          books).as("c"))
        .collect()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("capped LSH candidate gen pays the band-table exchange ONCE") {
    // the cap is one per-bucket kernel over ONE (band, bh) exchange. Pin it
    // by metric: exactly ONE shuffle reads band rows, and it carries the
    // band table (nDocs × 16 bands) once; a join-back population count
    // carried it twice. A plan regression (a second kernel pass, a
    // reintroduced join-back) shows up as a second band exchange and fails
    // here. The candidate exchange is not one: on this near-clique corpus
    // it legitimately carries more pairs than there are band rows. And the
    // cap caches nothing: its plan over uncached signatures holds no
    // in-memory relation, so no exchange hides inside a cached frame.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def nodes(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    }) :+ p
    val nDocs = 80
    val docs = (0 until nDocs).map(i =>
      (i.toLong, s"alpha bravo charlie delta echo foxtrot golf hotel india d$i"))
      .toDF("doc_id", "text")
    val uncached = graft.operators.Dedup.minhashSignatures(
      graft.operators.Dedup.shingleSets(docs, 3), 32)
    val capPlan = graft.operators.Dedup.lshCandidatesCapped(uncached, 32, 2)
      .queryExecution.withCachedData
    assert(capPlan.collect { case m: org.apache.spark.sql.execution.columnar
      .InMemoryRelation => m }.isEmpty, capPlan.treeString)
    val sig = uncached.cache()
    try {
      val cands = graft.operators.Dedup.lshCandidatesCapped(sig, 32, 2)
      cands.collect()
      val bandRows = nDocs.toLong * 16
      val written = nodes(cands.queryExecution.executedPlan).collect {
        case s: ShuffleExchangeLike =>
          val in = s.child.output.map(_.name).toSet
          (in("band") && in("bh"), s.metrics.get("shuffleRecordsWritten")
            .map(_.value)
            .getOrElse(fail(s"shuffleRecordsWritten metric missing on $s")))
      }
      val bandSized = written.collect { case (true, n) => n }
      assert(bandSized == Seq(bandRows),
        s"expected exactly one band-table exchange of $bandRows records, " +
          s"got $bandSized of $written")
    } finally sig.unpersist()
    // and with a planted hot cluster (100 copies, cap 8): NO exchange may
    // carry the quadratic pair volume the cap exists to prevent — the
    // uncapped clique alone would put ~100·99/2 ≈ 4950 pair records
    // through the candidate exchange; capped, every exchange stays within
    // the linear band-table volume plus the bounded candidate output
    val hotDocs = ((0 until 100).map(i =>
      (i.toLong, "one two three four five six seven eight nine ten")) ++
      (0 until 30).map(i =>
        (500L + i, s"golf hotel india juliet kilo lima mike november x$i")))
      .toDF("doc_id", "text")
    val hotSig = graft.operators.Dedup.minhashSignatures(
      graft.operators.Dedup.shingleSets(hotDocs, 3), 32).cache()
    try {
      val cands = graft.operators.Dedup.lshCandidatesCapped(hotSig, 32, 2,
        maxBucket = 8)
      val n = cands.collect().length
      val hotBandRows = 130L * 16
      val writtenHot = nodes(cands.queryExecution.executedPlan).collect {
        case s: ShuffleExchangeLike =>
          s.metrics.get("shuffleRecordsWritten").map(_.value)
            .getOrElse(fail(s"shuffleRecordsWritten metric missing on $s"))
      }
      assert(writtenHot.forall(_ <= hotBandRows + n + 100),
        s"an exchange carries quadratic hot-bucket volume: $writtenHot " +
          s"(band rows $hotBandRows, candidates $n)")
    } finally hotSig.unpersist()
  }

  test("uncapped minhash pairs compute the signature aggregate ONCE") {
    // a band self-join read the signature twice, and the second read of
    // the cached shingles is re-instanced with new attribute ids, so AQE
    // could not reuse the first signature exchange: an 80-doc corpus ran
    // two 80-record signature exchanges. The uncapped kernel pairs each
    // (band, bh) bucket from ONE band exchange over ONE signature pass.
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Min, Partial}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import spark.implicits._
    def nodes(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    }) :+ p
    val nDocs = 80
    val docs = (0 until nDocs).map(i =>
      (i.toLong, s"alpha bravo charlie delta echo foxtrot golf hotel india d$i"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.minhashDupPairs(docs)
    assert(pairs.collect().nonEmpty)
    // the signature exchange is the one fed by the PARTIAL min aggregate
    // (the band exchange's map side holds the final one)
    val signature = nodes(pairs.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeLike if s.child.exists {
          case a: BaseAggregateExec => a.aggregateExpressions.exists(e =>
            e.mode == Partial && e.aggregateFunction.isInstanceOf[Min])
          case _ => false
        } =>
        s.metrics.get("shuffleRecordsWritten").map(_.value)
          .getOrElse(fail(s"shuffleRecordsWritten metric missing on $s"))
    }
    assert(signature == Seq(nDocs.toLong),
      s"expected one $nDocs-record signature exchange, got $signature")
  }

  test("fact-first join chain is reordered dims-first by the engine (q182)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // the q06 ×1000 cliff as an ENGINE property: the naive fact-first
    // declaration must plan lineitem's join LAST, against the fully
    // reduced orders⋈customer⋈nation⋈region subtree
    def lineitemJoinSides(planName: Boolean): (Int, Int) = {
      val key = "spark.graft.joinReorder.dimsFirst"
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      val prevBc = spark.conf.get(bcKey)
      spark.conf.set(key, planName.toString)
      // broadcast off: at sf0.001 every relation is broadcast-sized, and
      // the rule (correctly) skips rotations whose receiving side would
      // broadcast anyway — disable broadcast so the structural assert
      // exercises the genuine-exchange regime the rule targets at scale
      spark.conf.set(bcKey, "-1")
      try {
        val p = SparkEntry.queries("q182_region_revenue_factfirst")(
          spark, TestSpark.sf0001).queryExecution.optimizedPlan
        val j = p.collect { case j: Join => j }.find { j =>
          def isLineitemOnly(s: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
            s.collectLeaves().size == 1 &&
              s.output.exists(_.name == "l_extendedprice")
          isLineitemOnly(j.left) || isLineitemOnly(j.right)
        }.getOrElse(fail(s"no join with a pure-lineitem side:\n$p"))
        val (liSide, other) =
          if (j.left.output.exists(_.name == "l_extendedprice")) (j.left, j.right)
          else (j.right, j.left)
        (liSide.collectLeaves().size, other.collectLeaves().size)
      } finally {
        spark.conf.set(key, prev)
        spark.conf.set(bcKey, prevBc)
      }
    }
    // rule ON: lineitem joins the 4-relation dim subtree
    assert(lineitemJoinSides(true) == (1, 4))
    // rule OFF: the naive declaration joins lineitem⋈orders first —
    // proving the reorder is the rule's doing, not Catalyst's default
    assert(lineitemJoinSides(false)._2 == 1)
  }

  test("fact-first semi chain is reordered dims-first by the engine (q183)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    // the r13 LeftSemi/LeftAnti extension: the naive `orders ⋉ lineitem
    // THEN ⋈ customer_f` declaration must plan the customer selectivity
    // BELOW the existence exchange — the semi join's left side becomes
    // the orders⋈customer subtree instead of bare orders
    def semiLeftLeaves(ruleOn: Boolean): Int = {
      val key = "spark.graft.joinReorder.dimsFirst"
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      val prevBc = spark.conf.get(bcKey)
      spark.conf.set(key, ruleOn.toString)
      // broadcast off, same rationale as the q182 gate: at sf0.001 every
      // relation is broadcast-sized and the rule correctly no-ops
      spark.conf.set(bcKey, "-1")
      try {
        val p = SparkEntry.queries("q183_exists_priority_factfirst")(
          spark, TestSpark.sf0001).queryExecution.optimizedPlan
        val semi = p.collect { case j: Join if j.joinType == LeftSemi => j }
          .headOption.getOrElse(fail(s"no LeftSemi join in plan:\n$p"))
        semi.left.collectLeaves().size
      } finally {
        spark.conf.set(key, prev)
        spark.conf.set(bcKey, prevBc)
      }
    }
    // rule ON: semi's left is orders⋈customer (dim selectivity lands
    // before the existence exchange)
    assert(semiLeftLeaves(true) == 2)
    // rule OFF: semi's left is bare orders — the rotation is the rule's
    assert(semiLeftLeaves(false) == 1)
  }

  test("dims-first reorder never rotates a FACT under join-product stats inflation (q05)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // r13 regression gate: q05's left subtree (cust ⋈ broadcast(nat⋈reg))
    // is a Join whose default stats are the multiplicative PRODUCT of its
    // children — under that inflation the r12 guard read 600M-row
    // lineitem as "much smaller" than the dim cluster and rotated q05
    // into a bushy cust ⋈ (ord ⋈ li) that re-exchanged the full join
    // output on o_custkey (measured ×1000: 1.353B shuffle records vs the
    // declared plan's 783M). With additive join sizing the rule must
    // leave q05's declared left-deep order untouched: the join carrying
    // the pure-lineitem side keeps the 4-leaf cust⋈nat⋈reg⋈ord subtree
    // on its other side, rule on or off.
    def liJoinOtherSideLeaves(ruleOn: Boolean): Int = {
      val key = "spark.graft.joinReorder.dimsFirst"
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      val prevBc = spark.conf.get(bcKey)
      spark.conf.set(key, ruleOn.toString)
      spark.conf.set(bcKey, "-1") // the genuine-exchange regime
      try {
        val p = SparkEntry.queries("q05_nation_revenue")(
          spark, TestSpark.sf0001).queryExecution.optimizedPlan
        val j = p.collect { case j: Join => j }.find { j =>
          def isLineitemOnly(s: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
            s.collectLeaves().size == 1 &&
              s.output.exists(_.name == "l_extendedprice")
          isLineitemOnly(j.left) || isLineitemOnly(j.right)
        }.getOrElse(fail(s"no join with a pure-lineitem side:\n$p"))
        if (j.left.output.exists(_.name == "l_extendedprice"))
          j.right.collectLeaves().size
        else j.left.collectLeaves().size
      } finally {
        spark.conf.set(key, prev)
        spark.conf.set(bcKey, prevBc)
      }
    }
    assert(liJoinOtherSideLeaves(false) == 4) // the declared order
    assert(liJoinOtherSideLeaves(true) == 4) // rule must not disturb it
  }
}
