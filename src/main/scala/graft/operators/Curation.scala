package graft.operators

import graft.functions.{TextFunctions, WordNgrams}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable training-data curation operators (the library surface behind
  * the q90–q99 oracle queries — each function is a DataFrame transform a
  * pipeline composes directly). Scale notes live on each op; all of them
  * keep the work in one or two map-side-combinable shuffles and none
  * collects to the driver.
  */
object Curation {

  /** Per-doc contamination scores against an eval/benchmark corpus: the
    * fraction of each training doc's n-gram shingles that appear anywhere
    * in `eval`. Returns (doc_id, n_sh, n_contam).
    *
    * Shape by EVAL size, the [[transitionScores]] model principle. Eval
    * benchmarks are bounded by construction (fixed suites; their DISTINCT
    * shingles don't grow with corpus replication), so the default path
    * collects the distinct eval-shingle HASH set under `evalLiteralMax`
    * and scores every training doc in ONE native text pass
    * ([[graft.functions.ContamCounts]]: in-place gram hashing, per-doc
    * dedup, binary search — no explode, no join, no agg exchange). The
    * ×1000 rehearsal forced this: the previous string-keyed broadcast
    * probe hashed ~430 M gram-string views per corpus pass and measured
    * RISING against DuckDB (2.67× at ×100 → 3.41× at ×1000, bench/r11/) —
    * the q162/q65 per-gram-object-churn lesson on the contamination axis.
    *
    * EAGER under the guard (deliberate, the literal-model pattern shared
    * with [[transitionScores]]): the limit(max+1) collect of the eval
    * hash set runs a Spark job AT CONSTRUCTION TIME — building this
    * DataFrame is not free, and the eval snapshot is frozen then, so an
    * eval table mutated between construction and execution scores against
    * the collected set. Callers that only want the plan (explain,
    * registry warm-up) should pass `evalLiteralMax = 0` for the fully
    * lazy join formulation.
    *
    * Above the guard (or with `evalLiteralMax = 0`) the plan is the
    * hash-space broadcast join: per-doc-distinct `WordNgramHashes`
    * exploded as 8-byte keys against the BROADCAST-HINTED eval hash set —
    * hinted, not left to AQE, because the static planner estimates the
    * side from the eval SCAN size (at the ×1000 rehearsal it planned a
    * sort-merge join and the train side's 226 M shingle rows had already
    * materialized as a shuffle stage before AQE's runtime stats flipped
    * it; the flip saved the join but not the exchange — 239 M → 4.6 M
    * shuffle records with the hint). The contract is the q164-vs-q162
    * distinction: hint sides bounded by CONSTRUCTION (benchmarks); leave
    * corpus-derived dims to AQE. A caller probing a CORPUS-SIZED `eval`
    * must pass `broadcastEval = false` AND `evalLiteralMax = 0` — or
    * better, use the dedup/index paths, which are built for that shape.
    * Hash-space equality is byte-identical to string equality modulo
    * 2^-64 collisions (the crossDocDupCounts recipe, oracle-pinned). */
  def contaminationCounts(train: DataFrame, eval: DataFrame, n: Int = 5,
      broadcastEval: Boolean = true,
      evalLiteralMax: Long = modelLiteralMax): DataFrame = {
    require(evalLiteralMax < Int.MaxValue,
      s"evalLiteralMax=$evalLiteralMax out of range (hash set is collected)")
    val evalHs = eval.select(explode(array_distinct(
        graft.functions.WordNgramHashes(col("text"), n))).as("hs"))
      .distinct()
    // bounded collect: complete set only when it fits the guard (one
    // limit(max+1) job decides — eval suites are benchmark-sized by
    // construction; oversize falls through to the join plan)
    val litRows =
      if (evalLiteralMax > 0)
        evalHs.limit(evalLiteralMax.toInt + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (evalLiteralMax > 0 && litRows.length <= evalLiteralMax) {
      val sorted = litRows.map(_.getLong(0)).sorted
      train.select(col("doc_id"),
          graft.functions.ContamCounts(col("text"), sorted, n).as("r"))
        .filter(col("r.n_sh") > 0) // join plan's explode drops shingle-less docs
        .select(col("doc_id"), col("r.n_sh").as("n_sh"),
          col("r.n_contam").as("n_contam"))
    } else {
      val evalSide0 = evalHs.withColumn("hit", lit(1))
      val evalSide = if (broadcastEval) broadcast(evalSide0) else evalSide0
      train.select(col("doc_id"), explode(array_distinct(
          graft.functions.WordNgramHashes(col("text"), n))).as("hs"))
        .join(evalSide, Seq("hs"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_contam"))
    }
  }

  /** The pre-round-11 string-keyed formulation, kept as the spec's
    * equivalence oracle for both hash-space paths (literal and join):
    * distinct gram STRINGS exploded against a string-keyed broadcast —
    * measured rising vs DuckDB at ×1000 (bench/r11/), retired from the
    * declared path. */
  private[graft] def contaminationCountsComposed(train: DataFrame,
      eval: DataFrame, n: Int = 5): DataFrame = {
    val evalSh = Dedup.shingleSets(eval, n)
      .select(explode(col("sg")).as("s")).distinct()
      .withColumn("hit", lit(1))
    Dedup.shingleSets(train, n)
      .select(col("doc_id"), explode(col("sg")).as("s"))
      .join(broadcast(evalSh), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_contam"))
  }

  /** Deterministic hash membership for sampling/mixing: true iff the row
    * survives at `rate` percent. A Knuth-multiplicative permutation of the
    * key — reproducible across runs, engines, and partitionings; no rand(),
    * no seed plumbing; shuffle-free. */
  // The deterministic arithmetic hashes below are (key * 2654435761) mod m
  // computed in MODULAR form — ((key mod m) * (2654435761 mod m)) mod m —
  // which is value-identical for nonnegative keys but cannot overflow LONG
  // (ANSI mode throws on overflow; the raw multiply does once ids carry
  // x10-rehearsal offsets ~9e9). Oracle SQL mirrors the same form.
  def hashSampled(key: Column, rate: Column): Column =
    ((key % 100) * lit(61L)) % 100 < rate // 61 = 2654435761 mod 100

  /** Stratified sample / source-mix report: per-stratum totals and
    * surviving counts under per-stratum rates (a tiny broadcast dim).
    * `rates` columns: (stratumCol, "rate"). */
  def stratifiedSampleReport(docs: DataFrame, rates: DataFrame,
      stratumCol: String, keyCol: String = "doc_id"): DataFrame =
    docs.join(broadcast(rates), stratumCol)
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_total"),
        sum(when(hashSampled(col(keyCol), col("rate")), 1).otherwise(0))
          .cast("long").as("n_sampled"))

  /** Temperature-flattened mixture resampling (the mT5/multilingual
    * α-sampling step, α = 0.5): big sources are down-sampled with keep
    * rate r_s = sqrt(n_min / n_s), so surviving counts scale with
    * sqrt(n_s) — flattening the source distribution toward uniform
    * while keeping the smallest source intact. The per-doc keep test is
    * EXACT INTEGER arithmetic (the repo determinism rule — no sqrt, no
    * doubles): with u = knuth-hash(key) mod 2^20 uniform in [0, 2^20),
    * keep ⟺ u² · n_s < n_min · 2^40  (both sides BIGINT; square the
    * uniform instead of square-rooting the rate). Bound: n_s < 2^23
    * overflows nothing; at larger corpus counts move both sides to
    * DECIMAL(38,0)/HUGEINT — the comparison stays exact.
    *
    * Scale shape: per-source counts are a tiny broadcast dim; the keep
    * test is a pure per-row expression; one combinable aggregation
    * produces the report. Returns (source, n_total, n_kept, n_min). */
  def temperatureSampleReport(docs: DataFrame, sourceCol: String = "source",
      keyCol: String = "doc_id"): DataFrame = {
    val counts = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).cast("long").as("n_total"))
    val nMin = counts.agg(min(col("n_total")).as("n_min"))
    // 489905 = 2654435761 mod 2^20 (see the modular-form note on hashSampled)
    val u = ((col(keyCol) % 1048576L) * lit(489905L)) % lit(1048576L)
    docs.join(broadcast(counts), sourceCol)
      .crossJoin(broadcast(nMin))
      .withColumn("kept",
        when(u * u * col("n_total") <
          col("n_min") * lit(1099511627776L), 1L).otherwise(0L))
      .groupBy(col(sourceCol))
      .agg(max(col("n_total")).as("n_total"),
        sum(col("kept")).cast("long").as("n_kept"),
        max(col("n_min")).as("n_min"))
  }

  /** Fractional-epoch corpus expansion — the step that MATERIALIZES a
    * mixing plan ([[temperatureSampleReport]] and q113 derive WEIGHTS;
    * training recipes run some sources for >1 epoch): every doc emits
    * `repeat_bp div 10000` full copies plus one more iff a deterministic
    * per-doc draw falls below the fractional remainder, so a source with
    * repeat_bp = 25000 contributes each doc 2 times plus a 50%-hash-chance
    * third copy — in aggregate exactly 2.5 epochs, with the SAME docs
    * picked every run (the repo's no-rand() rule: Knuth-multiplicative
    * draw in exact integer arithmetic, reproducible across engines and
    * partitionings). The draw MIXES the full key first — a high-bits fold
    * (`key div 2^31 + key`) through the 31-bit Knuth permutation
    * ([[shufflePosition]]'s constants) before the mod-10000 cut — so
    * structured id spaces (stride-generated ids, ids sharing a residue
    * mod 10000) don't all land on the same side of the fractional draw
    * the way a bare `key mod 10000` would (round-8 advice finding).
    * `repeats` columns: (sourceCol, repeat_bp: long,
    * basis points, 10000 = one epoch). Output: the input rows replicated
    * with an `epoch` column (0-based copy index). Docs whose source is
    * ABSENT from `repeats` contribute ZERO copies by definition — the
    * plan is the complete recipe, a missing source means "not in the
    * mix" (made explicit here via left join + coalesce(repeat_bp, 0)
    * rather than an inner join's silent drop); [[epochPlan]]-derived
    * plans always cover every source.
    *
    * Scale shape: the plan is a per-source dim (broadcast join); the
    * expansion is a narrow generate (`explode(sequence(...))`) — ZERO
    * shuffles; output size is the token budget the plan asked for, and a
    * downstream writer orders by [[shufflePosition]] so copies of one doc
    * never cluster in a training shard. */
  def epochExpand(docs: DataFrame, repeats: DataFrame,
      sourceCol: String = "source", keyCol: String = "doc_id"): DataFrame = {
    // full-key mix: fold the high bits down (div keeps it exact-integer
    // and engine-portable — DuckDB `//`, Spark `div`), then the 31-bit
    // Knuth permutation (same constants as shufflePosition), THEN the
    // mod-10000 cut. A bare `key mod 10000` draw made every stride-10000
    // id family land on the same side of the fraction.
    val fold = expr(s"$keyCol div ${1L << 31}") + col(keyCol)
    val draw = (((fold % 2147483647L) * lit(506952114L)) % 2147483647L) %
      10000L
    // div, not /: Spark's / on longs is DOUBLE division, and a
    // cast-truncated double can land one off an exact integer quotient.
    // coalesce: plan-absent sources are an explicit ZERO, not an
    // inner-join drop (see scaladoc).
    val bp = coalesce(col("repeat_bp"), lit(0L))
    val copies = expr("coalesce(repeat_bp, 0) div 10000") +
      when(draw < bp % 10000L, 1L).otherwise(0L)
    docs.join(broadcast(repeats), Seq(sourceCol), "left")
      .withColumn("__n", copies)
      .filter(col("__n") > 0)
      .withColumn("epoch",
        explode(sequence(lit(0L), col("__n") - 1L)))
      .drop("__n", "repeat_bp")
  }

  /** Per-source repeat plan that equalizes TOKEN budgets: every source is
    * repeated up to the LARGEST source's token count, capped at `capBp`
    * basis points (recipes cap low-resource sources at a few epochs
    * rather than repeating them tens of times). Integer-exact:
    * repeat_bp = min(capBp, max_tokens·10000 div source_tokens). One
    * map-side-combinable agg; the plan is a ≤|sources|-row dim. */
  def epochPlan(docs: DataFrame, capBp: Long = 40000L,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    val toks = docs.groupBy(col(sourceCol))
      .agg(sum(TextFunctions.tokenCount(col(textCol)).cast("long"))
        .as("n_toks"))
    val maxT = toks.agg(max(col("n_toks")).as("max_toks"))
    toks.crossJoin(broadcast(maxT))
      .select(col(sourceCol),
        least(lit(capBp), expr("(max_toks * 10000) div n_toks"))
          .as("repeat_bp"))
  }

  /** Within-document repetition ratio over n-gram occurrences:
    * 1 − distinct/total (boilerplate/loop signal). Per-row, no shuffle. */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val sg = WordNgrams(text, n)
    when(size(sg) > 0,
      lit(1.0) - size(array_distinct(sg)).cast("double") / size(sg))
  }

  /** Cross-document duplicate n-gram counts — the Gopher-style "duplicate
    * n-gram fraction" quality signal: for each doc, how many of its DISTINCT
    * n-grams occur in at least `minDocs` documents corpus-wide. Unlike
    * [[repetitionRatio]] (within-doc) or [[contaminationCounts]] (overlap
    * with a fixed eval set), this scores every doc against the WHOLE corpus.
    * Returns (doc_id, n_grams, n_shared).
    *
    * Scale shape: two shuffles, both keyed on ~uniform high-cardinality
    * grams — the per-gram doc-frequency agg (map-side combinable, and
    * exact because per-doc grams are pre-distinct'd so count == doc
    * frequency) and the join back onto the exploded grams. Catalyst reuses
    * the agg's exchange for the join's build side, so the gram set shuffles
    * twice, not three times. Both shuffles key on xxhash64(gram), not the
    * n-word gram string — an 8-byte payload per row instead of dozens of
    * chars. The OUTPUT (per-doc counts) is unchanged by the hashing modulo
    * 2^-64 collisions, which is why the string-joining DuckDB oracle still
    * hash-matches it. */
  def crossDocDupCounts(docs: DataFrame, n: Int = 5, minDocs: Int = 2): DataFrame = {
    val grams = docs.select(col("doc_id"),
        explode(array_distinct(WordNgrams(col("text"), n))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gram"))
    val docFreq = grams.groupBy(col("gram")).agg(count(lit(1)).as("nd"))
    grams.join(docFreq, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= minDocs, 1L).otherwise(0L)).as("n_shared"))
  }

  /** Exact duplicated-SPAN excision — the end-step of exact substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): every word covered by an n-gram that occurs in at
    * least `minDocs` distinct docs is cut from every doc, and the doc is
    * rebuilt from its surviving words in order. [[crossDocDupCounts]]
    * MEASURES cross-doc duplication; this operator REMOVES it at word
    * granularity.
    *
    * Scale shape: occurrences shuffle on xxhash64(gram) (8 B keys, like
    * crossDocDupCounts); duplicated occurrences aggregate to ONE sorted
    * START-position row per affected doc — not the n-fold exploded cover
    * positions the round-10 form shuffled (at the ×1000 replica every
    * gram is duplicated, so that explode was 5× corpus-token volume into
    * the doc-keyed exchange) — and the excision itself is one native
    * merged-scan expression, [[graft.functions.ScrubCoveredWords]]:
    * O(words + starts) inside whole-stage codegen, replacing the
    * interpreted `filter(ws, λ)` + linear `array_contains` HOF whose
    * per-doc cost was quadratic once duplication saturated (the round-10
    * verdict's q153 finding). The corpus' tokens never enter a shuffle.
    * Returns (doc_id, n_words, n_kept, scrubbed). */
  def scrubDuplicatedSpans(docs: DataFrame, n: Int = 5,
      minDocs: Int = 2): DataFrame = {
    val occ = dupSpanStarts(docs, n)
    val dupGrams = occ.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("gram"))
    // one sorted start-set row per doc that has any duplicated span
    val covStarts = occ.join(dupGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("start"))).as("sts"))
    docs.select(col("doc_id"), col("text"))
      .join(covStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), graft.functions.ScrubCoveredWords(col("text"),
        coalesce(col("sts"), lit(Array.empty[Int])), n).as("r"))
      .select(col("doc_id"),
        col("r.n_words").as("n_words"), col("r.n_kept").as("n_kept"),
        col("r.scrubbed").as("scrubbed"))
  }

  private def dupSpanStarts(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        posexplode(WordNgrams(col("text"), n)).as(Seq("i", "g")))
      .select(col("doc_id"), (col("i") + 1).as("start"),
        xxhash64(col("g")).as("gram"))

  /** The round-10 composed formulation of [[scrubDuplicatedSpans]], kept as
    * the spec's bit-equality oracle for the native expression: exploded
    * cover positions collected per doc, then a `filter(ws, λ)` +
    * `array_contains` rebuild on Catalyst's interpreted HOF path —
    * O(words × covered) per doc, measured 3.5× the ×100 DuckDB yardstick
    * with a RISING slope (bench/r10/yardstick_x100_adjudicated.json). */
  private[graft] def scrubDuplicatedSpansComposed(docs: DataFrame, n: Int = 5,
      minDocs: Int = 2): DataFrame = {
    val occ = dupSpanStarts(docs, n)
    val dupGrams = occ.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("gram"))
    val covSets = occ.join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (n - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("p"))).as("cps"))
    val kept = filter(col("ws"),
      (w, i) => not(array_contains(col("cps"), i + 1)))
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .join(covSets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        when(col("cps").isNull, col("ws")).otherwise(kept).as("kw"))
      .select(col("doc_id"), col("n_words"),
        size(col("kw")).cast("long").as("n_kept"),
        concat_ws(" ", col("kw")).as("scrubbed"))
  }

  /** Concat-and-chunk sequence packing: per `sourceCol`, docs concatenated
    * in `orderCol` order and chunked into `capacity`-token windows; a doc
    * belongs to the pack its first token lands in. Adds (toks, pack).
    * The window is PARTITIONED — parallel across sources, never a global
    * sort. */
  def packSequences(docs: DataFrame, capacity: Int, sourceCol: String = "source",
      orderCol: String = "doc_id", textCol: String = "text"): DataFrame =
    packByCounts(
      docs.withColumn("toks", TextFunctions.tokenCount(col(textCol))),
      capacity, sourceCol, orderCol)

  /** The packer over an arbitrary precomputed length column — what a real
    * training pipeline packs by (BPE token counts, q133) rather than raw
    * whitespace counts. Same keyed window, no global sort. */
  def packByCounts(docs: DataFrame, capacity: Int,
      sourceCol: String = "source", orderCol: String = "doc_id",
      countCol: String = "toks"): DataFrame = {
    val w = Window.partitionBy(col(sourceCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("__cum", sum(col(countCol)).over(w))
      .withColumn("pack", expr(s"(__cum - $countCol) div $capacity"))
      .drop("__cum")
  }

  /** Overlapping chunker (RAG / pretraining window splitter): `size`-token
    * chunks every `stride` tokens; chunk k of a doc covers tokens
    * [stride·k+1, stride·k+size], the tail chunk is short but never
    * dropped, every token is covered when stride ≤ size. Returns one row
    * per chunk: (all doc columns, chunk_id, chunk_text). Narrow
    * generate+explode, no shuffle. */
  def chunk(docs: DataFrame, size: Int = 64, stride: Int = 48,
      textCol: String = "text"): DataFrame = {
    require(stride > 0 && size >= stride, "need 0 < stride <= size")
    docs.select(docs.columns.map(col).toSeq :+
      posexplode(graft.functions.OverlappingChunks(col(textCol), size,
        stride)).as(Seq("chunk_id", "chunk_text")): _*)
  }

  /** The pre-round-9 composed formulation of [[chunk]], kept as the
    * spec's equivalence oracle for the native expression: per-chunk
    * slice+concat lambdas ran on Catalyst's interpreted HOF path
    * (q97 at 6.98× the ×100 DuckDB yardstick, worsening with scale). */
  private[graft] def chunkComposed(docs: DataFrame, size: Int, stride: Int,
      textCol: String = "text"): DataFrame = {
    require(stride > 0 && size >= stride, "need 0 < stride <= size")
    val ws = TextFunctions.words(col(textCol))
    val chunks = transform(
      sequence(lit(0), ((org.apache.spark.sql.functions.size(ws) - 1) / lit(stride)).cast("int")),
      k => struct(k.as("chunk_id"),
        concat_ws(" ", slice(ws, k * stride + 1, lit(size))).as("chunk_text")))
    docs.withColumn("__c", explode(chunks))
      .withColumn("chunk_id", col("__c.chunk_id"))
      .withColumn("chunk_text", col("__c.chunk_text"))
      .drop("__c")
  }

  /** Snapshot diff between two crawls of a corpus: full outer join on the
    * doc key comparing content fingerprints → status ∈ {added, removed,
    * changed, unchanged}. This is what makes the rest of the pipeline
    * INCREMENTAL: only added/changed docs re-enter dedup/embed/index (the
    * [[Dedup.incrementalDupPairs]] batch is exactly `added ∪ changed`).
    * One shuffle (the key join); fingerprints computed scan-side so the
    * join payload is (key, 32-byte hash), never the text. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      key: String = "doc_id", textCol: String = "text"): DataFrame =
    // presence is tracked with explicit flags, NOT fingerprint nullness —
    // a doc with NULL text has a null md5 and would otherwise register as
    // absent; the null-safe <=> makes null-text-in-both read as unchanged
    oldSnap.select(col(key), md5(col(textCol)).as("__old_fp"),
        lit(true).as("__old"))
      .join(newSnap.select(col(key), md5(col(textCol)).as("__new_fp"),
        lit(true).as("__new")), Seq(key), "full_outer")
      .withColumn("status",
        when(col("__old").isNull, "added")
          .when(col("__new").isNull, "removed")
          .when(col("__old_fp") <=> col("__new_fp"), "unchanged")
          .otherwise("changed"))
      .drop("__old_fp", "__new_fp", "__old", "__new")

  /** Deterministic corpus shuffle for training order: a reproducible
    * pseudo-random position per row (the same Knuth-multiplicative
    * permutation as [[hashSampled]], full 31-bit range) — identical across
    * runs, engines, and partitionings, unlike rand(). At scale the consumer
    * writes with `repartitionByRange(col("shuffle_pos"))` +
    * `sortWithinPartitions` so the global order materializes without a
    * single-partition sort. */
  def shufflePosition(key: Column): Column = // 506952114 = 2654435761 mod M
    ((key % 2147483647L) * lit(506952114L)) % 2147483647L

  /** Balanced training shards: assign every doc to one of `nShards` output
    * shards with near-equal TOKEN budgets — the step that writes the final
    * dataloader files, where hash-assignment ([[groupSplit]]-style) only
    * balances in expectation and a heavy-tailed doc-length distribution
    * leaves shards percents apart. Deterministic serpentine bin packing:
    * docs ranked by (tokens desc, doc_id), rank r goes to shard
    * `pos = r mod S` on even passes and `S-1-pos` on odd passes (the
    * boustrophedon fold — each pass hands the largest remaining docs to
    * the shards that got the smallest last pass), which bounds the
    * shard-total spread by roughly one max-doc, independent of the length
    * distribution (property-tested vs hash assignment on the skewed gate
    * corpus).
    *
    * Scale shape: the exact global rank WITHOUT a single-partition sort —
    * `repartitionByRange` + `sortWithinPartitions` on (tokens desc,
    * doc_id) (ONE exchange of 16-byte rows), then per-partition offsets
    * (bounded collect: one count per partition) + the
    * `monotonically_increasing_id` local offset, so rank = offset[pid] +
    * local position with no window exchange and no driver-side data. The
    * doc_id tiebreak makes the order TOTAL, so rank is exact regardless of
    * where the range sampler places partition boundaries. Returns
    * (doc_id, n_toks, shard). */
  def balancedShards(docs: DataFrame, nShards: Int, rangeParts: Int = 0,
      textCol: String = "text"): DataFrame =
    balancedShardsCore(docs, nShards, rangeParts, textCol)._1

  /** [[balancedShards]] with cache ownership: the bare call pins the
    * ranged/cached rank frame for the session's life (the same
    * per-call CacheManager accumulation the dedup [[ProbeHandle]]
    * variants exist for — round-8 advice finding). The handle's
    * `result` is the assignment; `close()` releases the rank cache.
    * Materialize first, close after (the cache is what makes the
    * offset job and the assignment read ONE `monotonically_increasing_
    * id` evaluation — an unpersisted recompute could renumber). */
  def balancedShardsManaged(docs: DataFrame, nShards: Int,
      rangeParts: Int = 0, textCol: String = "text"): ProbeHandle = {
    val (out, ranged) = balancedShardsCore(docs, nShards, rangeParts, textCol)
    new ProbeHandle(out, Seq(ranged))
  }

  private def balancedShardsCore(docs: DataFrame, nShards: Int,
      rangeParts: Int, textCol: String): (DataFrame, DataFrame) = {
    require(nShards > 0, "need at least one shard")
    val parts = if (rangeParts > 0) rangeParts
      else docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = docs
      .select(col("doc_id"), TextFunctions.tokenCount(col(textCol)).as("n_toks"))
      .repartitionByRange(parts, col("n_toks").desc, col("doc_id"))
      .sortWithinPartitions(col("n_toks").desc, col("doc_id"))
      // mid encodes (partition << 33) | row-position-in-partition; cached so
      // the offset job and the assignment read ONE materialization (the ids
      // are order-stable only within a single computation)
      .select(col("doc_id"), col("n_toks"),
        monotonically_increasing_id().as("__mid"))
      .cache()
    // one count per partition (<= `parts` rows) -> cumulative rank offsets
    val counts = ranged
      .groupBy(shiftright(col("__mid"), 33).cast("int").as("pid"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] =
      counts.map(_._1).zip(counts.scanLeft(0L)(_ + _._2)).toMap
    val rk = element_at(typedLit(offsets),
        shiftright(col("__mid"), 33).cast("int")) +
      (col("__mid") % (1L << 33))
    (ranged.withColumn("__rk", rk.cast("long"))
      .withColumn("shard",
        when(expr(s"(__rk div $nShards) % 2 = 0"), col("__rk") % nShards)
          .otherwise(lit(nShards - 1) - col("__rk") % nShards).cast("long"))
      .drop("__mid", "__rk"), ranged)
  }

  /** Cross-document paragraph-level dedup (the C4 recipe at block
    * granularity): each doc splits into non-overlapping `blockWords`-word
    * blocks; every block that textually duplicates an earlier occurrence
    * anywhere in the corpus (first = smallest (doc_id, position)) is
    * removed; the survivors reassemble in position order. Returns one row
    * per doc: (idCol, n_blocks, n_removed, scrubbed_fp = md5 of the
    * reassembled text).
    *
    * Scale shape (round-9 rewrite — the pre-r9 form shuffled BLOCK TEXT
    * twice, through the window AND the reassembly collect_list, and
    * measured 7.95× DuckDB at ×100, WORSENING with scale): the
    * first-occurrence decision runs entirely on (id, pos, bh) KEY rows —
    * blocks come from the native [[graft.functions.OverlappingChunks]]
    * (size = stride = blockWords; each block is a SUBSTRING of the
    * single-space text, so no words array is ever built), bh =
    * xxhash64(block) (byte-identical modulo 2^-64 collisions, the
    * crossDocDupCounts recipe), the winner per bh is a window MIN of the
    * (id, pos) struct — ONE exchange of ~20 B rows, no text — and the
    * per-doc survivor positions reduce through a map-side-combinable agg
    * (collect_list of ints, doc-bounded). Text then moves exactly ONCE:
    * the survivor-position table joins back to the corpus on the id, and
    * [[graft.functions.SelectedWordBlocks]] re-splices the survivor
    * substrings in one native pass — no collect_list of block texts,
    * no interpreted per-block lambdas. ×100: 30.3 s → (see PERF.md r9)
    * with the text exchange halved and the window sort 9× narrower. */
  def dedupParagraphs(docs: DataFrame, blockWords: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keys = docs
      .select(col(idCol), posexplode(graft.functions.OverlappingChunks(
        col(textCol), blockWords, blockWords)).as(Seq("pos", "block")))
      .select(col(idCol), col("pos"), xxhash64(col("block")).as("bh"))
    val me = struct(col(idCol), col("pos"))
    val kept = min(me).over(Window.partitionBy(col("bh"))) === me
    val survivors = keys
      .withColumn("__kept", kept)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("__kept"), 0).otherwise(1)).cast("long").as("n_removed"),
        sort_array(collect_list(when(col("__kept"), col("pos")))).as("__kp"))
    docs.select(col(idCol), col(textCol))
      .join(survivors, Seq(idCol))
      .select(col(idCol), col("n_blocks"), col("n_removed"),
        md5(graft.functions.SelectedWordBlocks(col(textCol), col("__kp"),
          blockWords)).as("scrubbed_fp"))
  }

  /** Leakage-safe train/val/test split: the split is a deterministic
    * function of the GROUP key (source/domain/url-host), never the row, so
    * near-duplicate docs from one source can never straddle splits and
    * contaminate eval. Uses the cross-engine 31-bit polynomial string hash
    * (same as the q69 simhash oracle path) — reproducible across runs,
    * engines, and partitionings. Pure per-row expression, shuffle-free. */
  def groupSplit(groupKey: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val h = Dedup.portableWordHash(groupKey) % 100
    when(h < trainPct, "train")
      .when(h < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** DSIR-shaped importance weights (Xie et al., NeurIPS 2023 — data
    * selection by importance resampling), integer-exact: target and raw
    * corpora each reduce to smoothed hashed-word-bucket totals t_b / r_b
    * ([[Classifier.hashedCounts]] features — ONE map-side-combinable
    * aggregation per corpus, 1-row driver read), and the per-bucket weight
    * is the FIXED-POINT likelihood ratio L_b = (t_b << 20) / r_b, so a
    * document's importance score Σ_b c_b·L_b is pure 64-bit integer
    * arithmetic (linear pooling of the ratios instead of DSIR's log-ratio
    * sum — the same "which docs resemble the target" ordering signal with
    * zero cross-engine float risk; the [[BpeTrainer]]/[[Classifier]]
    * oracle discipline). The returned table is a MODEL CONSTANT (nB ≤ 1024
    * longs, like IVF centroids or BPE merges): deployment is a
    * shuffle-free scoring expression ([[Classifier.scoreExpr]]) over any
    * corpus. Overflow: t_b << 20 needs < 2^43 words per target bucket —
    * tens of TB of TEXT per bucket before it matters, and the target set
    * is small by definition. */
  def importanceRatios(target: DataFrame, raw: DataFrame,
      textCol: String, nB: Int): Array[Long] = {
    require(nB > 0 && nB <= 1024, s"nB=$nB out of range (driver holds nB longs)")
    def bucketTotals(df: DataFrame): Array[Long] = {
      val aggs = (0 until nB).map(b =>
        coalesce(sum(element_at(col("__x"), b + 1)), lit(0L)).as(s"c$b"))
      // 1-row read: the nB-long bucket histogram (a model, not data)
      val r = df.select(Classifier.hashedCounts(col(textCol), nB).as("__x"))
        .agg(aggs.head, aggs.tail: _*).head
      Array.tabulate(nB)(i => r.getLong(i) + 1L) // add-one smoothing
    }
    val t = bucketTotals(target)
    val r = bucketTotals(raw)
    Array.tabulate(nB)(b => (t(b) * 1048576L) / r(b))
  }

  /** CCNet-shaped LM quality signal (Wenzek et al., LREC 2020) trained
    * INSIDE the engine, integer-exact: an add-one-smoothed bigram
    * transition model over the corpus itself scores each document by the
    * mean FIXED-POINT INVERSE transition probability
    *   s(w1, w2) = ((c1(w1) + V) << 20) / (c2(w1, w2) + 1)
    * averaged over the doc's bigrams (CCNet ranks by perplexity — the
    * GEOMETRIC mean of the same inverse probabilities; the arithmetic-mean
    * form keeps every intermediate a 64-bit integer, so the ranking the
    * head/middle/tail tiers consume replays exactly in ANSI SQL with no
    * ln()/float-summation-order divergence). V = distinct non-empty words.
    * Returns one row per doc with ≥1 bigram: (idCol, carryCols*, n_bg,
    * score) — `carryCols` are per-doc columns threaded through the
    * scoring aggregation (extra group keys, functionally dependent on
    * idCol), so a caller needing them downstream doesn't re-scan the
    * corpus to join them back.
    *
    * Scale shape: c2/c1 are corpus-derived count dims joined back on
    * high-cardinality word keys (plain shuffle equi-joins, no skew beyond
    * true Zipf heads — AQE splits those), the per-doc reduction is one
    * map-side-combinable agg, and V is a 1-row scalar read. Training and
    * scoring corpora can differ: score a fresh crawl against last month's
    * counts by passing the model tables explicitly. */
  def transitionScores(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", carryCols: Seq[String] = Nil,
      literalMax: Long = modelLiteralMax): DataFrame = {
    // Per-occurrence formulation, kept after an A/B at ×10: a
    // (doc, bigram, multiplicity) pre-aggregate before the model joins
    // measured 60% SLOWER (9.7 s vs 6.0 s, ×10 bench) because within-doc
    // bigram multiplicity is ≈1 on natural-shaped text — the extra
    // combinable shuffle cut nothing and re-derived its input three
    // times. Count/join keys are xxhash64 of the bigram / left word
    // (8 B/row instead of the strings — the crossDocDupCounts shuffle
    // recipe; byte-identical results modulo 2^-64 collisions).
    //
    // Round-9 A/B history (PERF.md r9) — three rewrites measured WORSE at
    // ×100 and were reverted: (a) c1-from-c2-dim + pre-joined model table
    // (24.5 s vs 20.1 — the dim exchanges and arrays_zip struct churn
    // cost more than the saved corpus pass), (b) zipped (gh, w1h) pair
    // structs through one explode (29.8 s — per-element struct
    // allocation), (c) posexplode + element_at into the doc's 1-gram hash
    // array (92 s — the generate copies the WHOLE per-doc array into
    // every gram row, O(n²) bytes). The single change that survived:
    // w1h's first word comes from substring_index (one slice view), not
    // split (a per-gram array of string allocations). The r8 join shape
    // stands: AQE broadcasts the count dims while they fit and flips to
    // shuffle joins beyond that (the designed crossover).
    //
    // Round-10 (fifth/sixth A/Bs, ×100 full replica, idle-box medians):
    // (e) swapping the gram strings for a native (gh, w1h)-struct explode
    // IN the three-pass plan measured 27.9 s vs the composed 3-pass's
    // ~9-12 — Generate copying per-occurrence struct rows costs more than
    // the zero-copy gram slices they replaced, so structs must never ride
    // a per-occurrence path. (f) SURVIVOR — train-once / score-stream:
    // the struct pass runs ONCE, straight into the model aggregation
    // groupBy(gh, w1h) (gh determines w1h, so this IS the c2 table with
    // the first-word key attached); c1 derives DIM-SIDE as sum(c2) over
    // grams sharing w1h (every w1-as-first-slot occurrence lies in
    // exactly one gram — no second corpus pass); the per-gram score is
    // precomputed on the dim; and the DIM IS MATERIALIZED
    // (localCheckpoint) before scoring. The pin is
    // load-bearing, not a cache nicety: used inline as a broadcast side,
    // the model subtree loses exchange reuse inside the broadcast query
    // stage and re-runs its corpus pass (probe-isolated: scoring join vs
    // inline model 17.9 s, vs the same model materialized 1.9 s).
    // Scoring then takes one of two plans by model size (below). Final
    // ×100 wall: 27.9 (struct-in-plan) / 12.2 (r9 composed) → 7.4 s
    // (1.8× DuckDB, inside the contract), ×10 shuffle records halved.
    // At 100 TB this is also the deployable shape: the transition model
    // is a train-once artifact, scoring streams.
    val m = docs
      .select(explode(graft.functions.BigramHashPairs(col(textCol))).as("p"))
      .groupBy(col("p.gh").as("gh"), col("p.w1h").as("w1h"))
      .agg(count(lit(1)).as("c2"))
    val c1d = m.groupBy(col("w1h")).agg(sum(col("c2")).as("c1"))
    // dim pinned BEFORE scores: V derives from it (below), so the score
    // projection runs over the tiny pinned rows, not a re-planned subtree
    val dim = m.join(c1d, Seq("w1h"))
      .localCheckpoint(true) // model-sized (|distinct grams| × 32 B rows)
    // V = |distinct non-empty words| WITHOUT a third corpus explode:
    // every word of a document is a bigram-first slot or the document's
    // LAST word, so the distinct-word set is exactly {dim.w1h} ∪
    // {xxhash64(last word)} (minus the empty-token hash words() drops) —
    // the corpus side is a NARROW scan (one substring_index per doc, no
    // explode; the dedicated words-explode countDistinct it replaces
    // measured 1.7-2.5 s of the ×100 wall for one scalar). Hash-distinct
    // == word-distinct modulo the house 2^-64 collision rule.
    val vocab = dim.select(col("w1h").as("wh"))
      .union(docs.select(
        xxhash64(substring_index(col(textCol), " ", -1)).as("wh")))
      .filter(col("wh") =!= lit(Curation.EmptyWordHash))
      .agg(countDistinct(col("wh")).as("v")).head.getLong(0) // 1-row scalar
    val model = dim
      .select(col("gh"),
        expr(s"((c1 + ${vocab}L) * 1048576L) div (c2 + 1L)").as("s"))
    val keys = (idCol +: carryCols).map(col)
    // Scoring: two plans by MODEL size (the broadcast-threshold principle
    // applied to a trained dim, with an explicit driver bound).
    //  - Small model (≤ modelLiteralMax rows, ≈4 MB of long pairs at the
    //    default): collect it sorted and score each doc in ONE native
    //    pass over the text ([[graft.functions.BigramMapScore]] — the
    //    classifier literal-table pattern): no explode, no join, no
    //    aggregation exchange. ×100: 8.3 → ~6 s, and the ×1000 plan
    //    drops its 291 M-record shuffle entirely.
    //  - Large model: the general plan — primitive gram-hash explode
    //    hash-joined to the pinned dim (AQE broadcasts while it fits,
    //    shuffle-joins beyond), one combinable per-doc aggregation. The
    //    results are identical: the kernel's skip-on-miss matches the
    //    inner join, and both sum the same longs.
    if (dim.count() <= literalMax) {
      val rows = model.collect().sortBy(_.getLong(0)) // bounded by the guard
      val ks = rows.map(_.getLong(0))
      val vs = rows.map(_.getLong(1))
      docs
        .select((keys :+ graft.functions.BigramMapScore(col(textCol), ks, vs)
          .as("__r")): _*)
        .select((keys ++ Seq(col("__r.n_bg").as("n_bg"),
          col("__r.tot").as("__tot"))): _*)
        .filter(col("n_bg") >= 1L)
        .withColumn("score", expr("__tot div n_bg"))
        .drop("__tot")
    } else {
      docs
        .select((keys :+
          explode(graft.functions.WordNgramHashes(col(textCol), 2)).as("gh")): _*)
        .join(model, Seq("gh"))
        .groupBy(keys: _*)
        .agg(count(lit(1)).as("n_bg"), sum(col("s")).as("__tot"))
        .withColumn("score", expr("__tot div n_bg"))
        .drop("__tot")
    }
  }

  /** Model-size bound for [[transitionScores]]' literal fast path: above
    * this many distinct grams the model stays distributed (the join
    * plan). 2^18 long pairs ≈ 4 MB — comfortably collectable, same order
    * as a broadcast threshold. */
  val modelLiteralMax: Long = 1L << 18

  /** xxhash64 (seed 42) of the empty string — the hash-space image of the
    * empty tokens words() filters out. */
  val EmptyWordHash: Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      Array.emptyByteArray, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      0, 42L)

  /** Cumulative curation funnel flags: length gate, repetition gate, and
    * exact-dedup survivorship (min key per content hash). Adds boolean
    * p_len / p_rep / p_dedup columns for funnel aggregation. */
  def funnelFlags(docs: DataFrame, minToks: Int, maxToks: Int,
      maxRepetition: Double, keyCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("p_len",
        TextFunctions.tokenCount(col(textCol)).between(minToks, maxToks))
      .withColumn("p_rep",
        coalesce(repetitionRatio(col(textCol)) < maxRepetition, lit(false)))
      .withColumn("p_dedup", col(keyCol) ===
        min(col(keyCol)).over(Window.partitionBy(md5(col(textCol)))))
}
