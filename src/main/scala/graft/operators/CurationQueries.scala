package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{TextFunctions, WordNgrams}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data CURATION operators — the steps between "raw corpus" and
  * "training mix" that a 100 TB pretraining pipeline runs after dedup
  * (north-star additions beyond the reference's own query surface):
  * benchmark-contamination screening, deterministic stratified sampling /
  * source mixing, PII redaction, within-document repetition scoring,
  * sequence packing, incremental dedup of a fresh batch against the indexed
  * corpus, and int8 embedding quantization for index storage.
  *
  * All queries follow the repo's determinism rules (QueryDef scaladoc):
  * integer-derived doubles only, BIGINT casts on sums, truncation (never
  * round-half) where a float hits an integer space.
  */
object CurationQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** q90: benchmark-contamination check — the doc_id%10==0 slice plays the
    * held-out eval set; every training doc is scored by the fraction of its
    * 5-gram shingles that appear anywhere in the eval set. 5-grams (not the
    * dedup 3-grams) push random-collision overlap on this 31-word vocabulary
    * to ~4% so the planted near-dups separate cleanly at ≥0.5.
    *
    * Scale shape: eval shingles are distinct-reduced before the join
    * (map-side combinable), then a shuffle equi-join on the shingle string
    * keyed by high-cardinality text — at 100 TB you'd join on xxhash64(s) to
    * shrink the shuffle payload (byte-identical result modulo 2^-64
    * collisions); the string form is kept here for cross-engine oracle
    * exactness. The count(hit)/count(*) agg is one map-side-combinable
    * shuffle on doc_id. */
  private def q90(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Curation.contaminationCounts(
        train = all.filter(col("doc_id") % 10 =!= 0),
        eval = all.filter(col("doc_id") % 10 === 0), n = 5)
      .filter(col("n_contam").cast("double") / col("n_sh") >= 0.5)
      .select(col("doc_id"), col("n_sh"), col("n_contam"),
        round(col("n_contam").cast("double") / col("n_sh"), 4).as("contam_ratio"))
  }

  private val q90Sql =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws)>=5
      |  THEN list_transform(generate_series(1,len(ws)-4),
      |       i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])
      |  ELSE [] END) AS sg FROM w),
      |ev AS (SELECT DISTINCT unnest(sg) AS s FROM sh WHERE doc_id % 10 = 0),
      |tr AS (SELECT doc_id, unnest(sg) AS s FROM sh WHERE doc_id % 10 != 0),
      |ov AS (SELECT tr.doc_id, count(*) AS n_sh, count(ev.s) AS n_contam
      |       FROM tr LEFT JOIN ev ON tr.s = ev.s GROUP BY 1)
      |SELECT doc_id, n_sh, n_contam,
      |  round(CAST(n_contam AS DOUBLE)/n_sh, 4) AS contam_ratio
      |FROM ov WHERE CAST(n_contam AS DOUBLE)/n_sh >= 0.5""".stripMargin

  /** q91: deterministic stratified sampling / source mixing — per-stratum
    * target rates live in a tiny broadcast dim; membership is a pure
    * arithmetic hash of the row key (`((doc_id mod 100)*61) mod 100`, the
    * overflow-safe modular form of the Knuth-multiplicative
    * `doc_id*2654435761 mod 100`), so the sample is REPRODUCIBLE across
    * runs, engines, and partitionings — no rand(), no sample(), no seed
    * plumbing. This is both the stratified-sample and the mix-weighting
    * operator: rates are the per-stratum (here per-lang) mix weights.
    * One broadcast join + one map-side-combinable agg; the row-level
    * `h < rate` filter is the actual sampling operator and runs
    * shuffle-free at any scale. */
  private def q91(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rates = Seq(("en", 20), ("de", 50), ("es", 50), ("fr", 50), ("zh", 50))
      .toDF("lang", "rate")
    Curation.stratifiedSampleReport(docs(s, d), rates, "lang")
  }

  private val q91Sql =
    """WITH rates(lang, rate) AS (VALUES ('en', 20), ('de', 50), ('es', 50), ('fr', 50), ('zh', 50)),
      |s AS (SELECT d.lang, ((d.doc_id % 100) * 61) % 100 AS h, r.rate
      |      FROM documents d JOIN rates r USING (lang))
      |SELECT lang, count(*) AS n_total,
      |  CAST(sum(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM s GROUP BY lang""".stripMargin

  /** q92: PII redaction — the corpus is synthetic-clean, so deterministic
    * PII (an email + a phone derived from doc_id) is appended first, then
    * scrubbed back out with regex redaction; emitting the scrubbed-text md5
    * under the oracle proves the FULL redacted string matches DuckDB
    * byte-for-byte, not just the match counts. Patterns stay in the
    * Java∩RE2 subset (character classes + bounded repeats, no lookaround).
    * Pure per-row narrow ops: whole-stage codegen, shuffle-free. */
  private[graft] val emailPattern = "[a-z0-9.]+@[a-z][a-z.]+"
  private[graft] val phonePattern = "[0-9]{3}-[0-9]{4}"

  /** Deterministic synthetic PII appended to a clean corpus row (test rig
    * for the scrubber — the corpus itself contains none). */
  private[graft] def withSyntheticPii(text: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(text, lit(" contact user"), id.cast("string"),
      lit("@mail.example.com or 555-"),
      lpad((id % 10000).cast("string"), 4, "0"))

  /** The redaction operator: replace every email/phone match. */
  private[graft] def piiScrub(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(raw, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  private def q92(s: SparkSession, d: String): DataFrame = {
    // ONE native pass ([[graft.functions.PiiScan]]) replaces the 4-pass
    // java.util.regex formulation (2× regexp_extract_all + the
    // regexp_replace chain) — the ×100 yardstick read the regex form at
    // 14.7× DuckDB on a shuffle-free plan (regex-ENGINE gap: per-row
    // backtracking vs RE2); CurationSpec pins the kernel match-for-match
    // against the regexp composition, and this oracle hashes the full
    // scrubbed text, so any redaction divergence flips the md5
    val raw = withSyntheticPii(col("text"), col("doc_id"))
    docs(s, d)
      .select(col("doc_id"), graft.functions.PiiScan(raw).as("p"))
      .select(col("doc_id"),
        col("p.n_emails").cast("int").as("n_emails"),
        col("p.n_phones").cast("int").as("n_phones"),
        md5(col("p.scrubbed")).as("scrubbed_fp"))
  }

  private val q92Sql =
    """WITH t AS (SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |    '@mail.example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(raw, '[a-z0-9.]+@[a-z][a-z.]+')) AS n_emails,
      |  len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}')) AS n_phones,
      |  md5(regexp_replace(regexp_replace(raw, '[a-z0-9.]+@[a-z][a-z.]+', '<EMAIL>', 'g'),
      |      '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_fp
      |FROM t""".stripMargin

  /** q93: within-document repetition score — 1 − distinct/total over 3-gram
    * occurrences, the standard boilerplate/loop-detection signal (a doc that
    * repeats a paragraph scores high even when no OTHER doc duplicates it).
    * Single-pass per-row array math via the native [[WordNgrams]]
    * expression; no explode, no shuffle. */
  private def q93(s: SparkSession, d: String): DataFrame = {
    val sg = WordNgrams(col("text"), 3)
    docs(s, d)
      .select(col("doc_id"), size(sg).as("n_total"),
        size(array_distinct(sg)).as("n_distinct"),
        round(Curation.repetitionRatio(col("text"), 3), 4).as("rep_ratio"))
      .filter(col("n_total") > 0)
  }

  private val q93Sql =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT doc_id, CASE WHEN len(ws)>=3
      |  THEN list_transform(generate_series(1,len(ws)-2),
      |       i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
      |  ELSE [] END AS sg FROM w)
      |SELECT doc_id, len(sg) AS n_total, len(list_distinct(sg)) AS n_distinct,
      |  round(1.0 - CAST(len(list_distinct(sg)) AS DOUBLE)/len(sg), 4) AS rep_ratio
      |FROM g WHERE len(sg) > 0""".stripMargin

  /** q94: sequence packing — the "concat then chunk" packing GPT-style
    * pretraining uses: per SOURCE, docs are concatenated in doc_id order and
    * chunked into 256-token context windows; a doc belongs to the pack its
    * first token lands in. Per-pack doc counts / token totals / fill ratios
    * are the packing-efficiency report.
    *
    * Scale shape: the window is PARTITIONED by source — each source's
    * running sum sorts only its own partition (parallel across sources), not
    * a global single-partition sort (the q53→q85 lesson). The agg is
    * map-side combinable on (source, pack). */
  private def q94(s: SparkSession, d: String): DataFrame =
    Curation.packSequences(docs(s, d), capacity = 256)
      .groupBy(col("source"), col("pack"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).cast("long").as("toks"))
      .withColumn("fill", round(col("toks").cast("double") / 256.0, 4))

  private val q94Sql =
    """WITH t AS (SELECT source, doc_id, len(string_split(text,' ')) AS toks FROM documents),
      |c AS (SELECT source, doc_id, toks,
      |        sum(toks) OVER (PARTITION BY source ORDER BY doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      |SELECT source, CAST((cum - toks) // 256 AS BIGINT) AS pack,
      |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS toks,
      |  round(CAST(sum(toks) AS DOUBLE) / 256.0, 4) AS fill
      |FROM c GROUP BY 1, 2""".stripMargin

  /** q95: incremental dedup — the doc_id%5==4 slice plays a freshly
    * scraped batch arriving against the already-indexed corpus (the rest);
    * [[Dedup.incrementalDupPairs]] joins batch minhash bands against corpus
    * bands (never corpus×corpus) and exact-verifies. The oracle brute-forces
    * the cross-split Jaccard, so band recall is checked end-to-end: the
    * planted pairs that straddle the split must all surface. */
  private def q95(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Dedup.incrementalDupPairs(
      corpus = all.filter(col("doc_id") % 5 =!= 4),
      batch = all.filter(col("doc_id") % 5 === 4),
      n = 3, numHashes = 32, rowsPerBand = 2, threshold = 0.5)
  }

  private val q95Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
      |  THEN list_transform(generate_series(1, len(ws) - 2),
      |       i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
      |  ELSE [] END) AS sg FROM w),
      |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
      |        CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
      |          / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j
      |      FROM sh a JOIN sh b
      |        ON a.doc_id % 5 != 4 AND b.doc_id % 5 = 4 AND a.doc_id != b.doc_id)
      |SELECT round(j, 4) AS jr, da, db FROM p WHERE j >= 0.5""".stripMargin

  /** q175: q95's incremental dedup through the HOT-BUCKET-CAPPED corpus
    * side ([[Dedup.incrementalDupPairsCapped]]) — the ingest-time twin of
    * q174: a batch doc landing in a boilerplate bucket is bounded to the
    * bucket's fingerprint representatives instead of fanning out to every
    * corpus copy. Cap active (maxBucket = 64), not binding on the gate
    * corpus, so the same brute cross-split oracle pins equality; the hot
    * semantics are property-tested with planted clusters. */
  private def q175(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Dedup.incrementalDupPairsCapped(
      corpus = all.filter(col("doc_id") % 5 =!= 4),
      batch = all.filter(col("doc_id") % 5 === 4),
      n = 3, numHashes = 32, rowsPerBand = 2, threshold = 0.5,
      maxBucket = 64)
  }

  /** q143: PERSISTED dedup index round trip — q95's incremental check with
    * the corpus side stored ([[DedupIndex]]: band table partitioned by band
    * bucket, shingle table by doc bucket) and the batch answered by a
    * PRUNED probe (only the hit band buckets and the candidate docs'
    * shingle buckets are read). Same oracle as q95 — the brute cross-split
    * scan — proving the index-served path loses nothing vs the inline
    * recompute. The q132/q111 pattern for the dedup family. */
  private def q143(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    // the probe result lazy-reads the index — the artifact must outlive
    // this method (reclaimed at JVM exit, like q111's dim tree)
    val path = graft.TempDirs.scratchAtExit("dedup_idx")
      .resolve("idx").toString
    DedupIndex.writeSignatureIndex(
      all.filter(col("doc_id") % 5 =!= 4), path)
    DedupIndex.probeIndex(s, path, all.filter(col("doc_id") % 5 === 4))
  }

  /** q177: the persisted-index probe through the HOT-BUCKET CAP
    * ([[DedupIndex.probeIndexCapped]]) — q143's round trip with the
    * corpus side's band buckets population-bounded, closing the capped
    * family: q174 caps the self-join, q175 the inline incremental join,
    * q177 the INDEX-SERVED probe a 100 TB ingest pipeline actually runs
    * (and [[DedupIndex.ingestBatch]] now defaults to). Cap active
    * (maxBucket = 64), not binding on the gate corpus, so the same brute
    * cross-split oracle pins equality with the uncapped q143; the hot
    * semantics are property-tested with planted clusters. */
  private def q177(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val path = graft.TempDirs.scratchAtExit("dedup_idx_cap")
      .resolve("idx").toString
    DedupIndex.writeSignatureIndex(
      all.filter(col("doc_id") % 5 =!= 4), path)
    DedupIndex.probeIndexCapped(s, path, all.filter(col("doc_id") % 5 === 4),
      maxBucket = 64)
  }

  /** q144: dedup index UPSERT round trip (q132's shape for the dedup
    * family): bulk-build on a v1 crawl (ids %5 ∈ {0,1,2}), upsert a batch
    * that both ADDS the %5==3 docs and RE-CRAWLS the %5==1 docs with
    * revised text, then probe the %5==4 slice against the maintained
    * index. The oracle computes brute-force cross pairs against the FINAL
    * corpus — proving the re-crawled docs' stale bands died in their old
    * buckets (their OLD text's pairs are gone, the revised text's pairs
    * are served) and the added docs are probe-visible. */
  private def q144(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val path = graft.TempDirs.scratchAtExit("dedup_idx_up")
      .resolve("idx").toString
    DedupIndex.writeSignatureIndex(
      all.filter(col("doc_id") % 5 =!= 3 && col("doc_id") % 5 =!= 4), path)
    val batch = all.filter(col("doc_id") % 5 === 3)
      .unionByName(all.filter(col("doc_id") % 5 === 1)
        .withColumn("text", concat(col("text"), lit(" rev2 extra"))))
    DedupIndex.upsertSignatureIndex(batch, path)
    DedupIndex.probeIndex(s, path, all.filter(col("doc_id") % 5 === 4))
  }

  private val q144Sql =
    """WITH ca AS (SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 1 THEN text || ' rev2 extra' ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 != 4),
      |cb AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4),
      |sha AS (SELECT doc_id, list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
      |  THEN list_transform(generate_series(1, len(string_split(text,' ')) - 2),
      |       i -> string_split(text,' ')[i]||' '||string_split(text,' ')[i+1]||' '||string_split(text,' ')[i+2])
      |  ELSE [] END) AS sg FROM ca),
      |shb AS (SELECT doc_id, list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
      |  THEN list_transform(generate_series(1, len(string_split(text,' ')) - 2),
      |       i -> string_split(text,' ')[i]||' '||string_split(text,' ')[i+1]||' '||string_split(text,' ')[i+2])
      |  ELSE [] END) AS sg FROM cb),
      |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
      |        CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
      |          / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j
      |      FROM sha a CROSS JOIN shb b)
      |SELECT round(j, 4) AS jr, da, db FROM p WHERE j >= 0.5""".stripMargin

  /** q145: streaming DEDUP-AT-INGEST — the full loop a crawl pipeline runs,
    * as one Structured Streaming drain: each arriving slice is PROBED
    * against the persisted signature index (pairs land in a parquet sink,
    * no driver collect), then UPSERTED so later slices dedup against it.
    * Slices arrive in doc_id%3 order (mtime-staged, one file per trigger),
    * so the drained pair set is exactly "every verified near-dup pair
    * whose container slice precedes its batch slice" — which the oracle
    * computes directly with a slice-ordered brute join. First slice builds
    * the index (empty-dir bulk routing), later slices exercise
    * probe-then-upsert against live state. */
  private def q145(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d).select(col("doc_id"), col("text"))
    val base = graft.TempDirs.scratchAtExit("stream_ingest_dedup")
    val idx = base.resolve("idx").toString
    val pairsDir = base.resolve("pairs").toString
    graft.streaming.IngestHarness.drain(s, base,
      (0 until 3).map(i => all.filter(col("doc_id") % 3 === i)),
      // probe + fold-in with ONE shingle/signature pass over the batch;
      // the first slice bulk-builds and returns no pairs (the empty
      // append still creates the sink dir)
      batch => DedupIndex.ingestBatch(s, idx, batch)
        .write.mode("append").parquet(pairsDir))
    s.read.parquet(pairsDir)
  }

  private val q145Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
      |  THEN list_transform(generate_series(1, len(ws) - 2),
      |       i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
      |  ELSE [] END) AS sg FROM w),
      |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
      |        CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
      |          / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j
      |      FROM sh a JOIN sh b ON (a.doc_id % 3) < (b.doc_id % 3))
      |SELECT round(j, 4) AS jr, da, db FROM p WHERE j >= 0.5""".stripMargin

  /** q96: int8 embedding quantization — the storage format a 100 TB vector
    * index actually persists (4× smaller than float32, SIMD-dot-product
    * friendly): per-vector max-abs scale, symmetric linear map to [-127,127],
    * TRUNCATED toward zero (round-half semantics differ between engines —
    * the repo determinism rule). The checksum (Σ qᵢ·i over 1-based
    * positions) pins every quantized component under the oracle without 64
    * output columns. The quantization itself runs through the native
    * [[graft.functions.Int8Quantize]] codegen expression (one fused pass;
    * NULL on all-zero vectors replaces the composed form's scale>0 guard),
    * so the oracle gates the hot-path code — the checksum HOFs are
    * verification-only scaffolding. */
  private def q96(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .withColumn("qv", graft.functions.Int8Quantize(col("embedding")))
      .filter(col("qv").isNotNull)
      .select(col("vec_id"), size(col("qv")).as("dim"),
        aggregate(zip_with(col("qv"), sequence(lit(1), size(col("qv"))),
          (q, i) => q.cast("long") * i), lit(0L), (a, x) => a + x).as("checksum"),
        array_max(col("qv")).cast("long").as("qmax"),
        array_min(col("qv")).cast("long").as("qmin"))

  private val q96Sql =
    """WITH s AS (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      |  FROM embeddings),
      |q AS (SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(trunc(CAST(x AS DOUBLE) * 127.0 / scale) AS BIGINT)) AS qv
      |  FROM s WHERE scale > 0)
      |SELECT vec_id, len(qv) AS dim,
      |  CAST(list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * i)) AS BIGINT) AS checksum,
      |  CAST(list_max(qv) AS BIGINT) AS qmax, CAST(list_min(qv) AS BIGINT) AS qmin
      |FROM q""".stripMargin

  /** q97: document chunking with overlap — the RAG / pretraining window
    * splitter: 64-token chunks on a 48-token stride (16-token overlap), so
    * every token is covered and boundary context is preserved. A doc of n
    * tokens yields ⌊(n−1)/48⌋+1 chunks; chunk k covers tokens
    * [48k+1, 48k+64] (the tail chunk is short, never dropped). md5 of each
    * chunk pins the exact text under the oracle. Per-row generate+explode —
    * one narrow Generate, no shuffle; chunk provenance (doc_id, chunk_id)
    * is what the downstream embed/index steps key on. */
  private def q97(s: SparkSession, d: String): DataFrame =
    Curation.chunk(docs(s, d), size = 64, stride = 48)
      .select(col("doc_id"), col("chunk_id"),
        size(split(col("chunk_text"), " ")).as("n_toks"),
        md5(col("chunk_text")).as("fp"))

  private val q97Sql =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |k AS (SELECT doc_id, ws,
      |        unnest(generate_series(0, (len(ws)-1)//48)) AS chunk_id FROM w)
      |SELECT doc_id, chunk_id,
      |  len(list_slice(ws, chunk_id*48+1, chunk_id*48+64)) AS n_toks,
      |  md5(array_to_string(list_slice(ws, chunk_id*48+1, chunk_id*48+64), ' ')) AS fp
      |FROM k""".stripMargin

  /** q99: curation funnel — the per-source survivor report a curation stack
    * emits at the end of a run: total docs → length gate (20–80 tokens) →
    * repetition gate (<5% repeated 3-grams) → exact-dedup survivor (min
    * doc_id of its content-hash group). Stages are CUMULATIVE conjunctions,
    * so the report reads as a funnel. One window keyed on the content
    * fingerprint (the dedup decision) + one map-side-combinable agg on
    * source; conditional counts stay in whole-stage codegen. */
  private def q99(s: SparkSession, d: String): DataFrame =
    Curation.funnelFlags(docs(s, d), minToks = 20, maxToks = 80,
        maxRepetition = 0.05)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("p_len"), 1).otherwise(0)).cast("long").as("n_len"),
        sum(when(col("p_len") && col("p_rep"), 1).otherwise(0)).cast("long").as("n_rep"),
        sum(when(col("p_len") && col("p_rep") && col("p_dedup"), 1).otherwise(0))
          .cast("long").as("n_kept"))

  private val q99Sql =
    """WITH g AS (SELECT doc_id, source, len(string_split(text,' ')) AS n_toks,
      |    CASE WHEN len(string_split(text,' ')) >= 3
      |         THEN list_transform(generate_series(1, len(string_split(text,' ')) - 2),
      |                i -> string_split(text,' ')[i] || ' ' ||
      |                     string_split(text,' ')[i+1] || ' ' ||
      |                     string_split(text,' ')[i+2])
      |         ELSE [] END AS sg,
      |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      |  FROM documents),
      |p AS (SELECT source,
      |    n_toks BETWEEN 20 AND 80 AS p_len,
      |    len(sg) > 0 AND (1.0 - CAST(len(list_distinct(sg)) AS DOUBLE)/len(sg)) < 0.05 AS p_rep,
      |    doc_id = keeper AS p_dedup
      |  FROM g)
      |SELECT source, count(*) AS n_total,
      |  CAST(sum(CASE WHEN p_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
      |  CAST(sum(CASE WHEN p_len AND p_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
      |  CAST(sum(CASE WHEN p_len AND p_rep AND p_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM p GROUP BY source""".stripMargin

  /** q105: cross-document paragraph dedup — the C4 recipe at 8-word-block
    * granularity: any block whose text appears earlier in the corpus
    * (first occurrence = smallest (doc_id, position)) is removed; survivors
    * reassemble in position order. The md5 of every reassembled doc is
    * pinned under the oracle, so the full scrubbed TEXT (not just counts)
    * matches DuckDB byte-for-byte — including docs scrubbed to empty (their
    * fingerprint is md5('')). Finer-grained than doc-level dedup (q32–q36):
    * it removes boilerplate shared across otherwise-distinct docs.
    *
    * Scale shape: one narrow generate + ONE shuffle (window keyed by block
    * text — high-cardinality, skew bounded by true duplication) + a
    * map-side-combinable agg back to doc_id; reassembly is per-doc-bounded.
    * At 100 TB key the window on xxhash64(block) to shrink the shuffle
    * (same output modulo 2^-64 collisions). */
  private def q105(s: SparkSession, d: String): DataFrame =
    Curation.dedupParagraphs(docs(s, d), blockWords = 8)

  private val q105Sql =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |b AS (SELECT doc_id, k AS pos,
      |        array_to_string(list_slice(ws, k*8+1, k*8+8), ' ') AS block
      |      FROM w, unnest(generate_series(0, (len(ws)-1)//8)) AS t(k)),
      |r AS (SELECT doc_id, pos, block,
      |        row_number() OVER (PARTITION BY block ORDER BY doc_id, pos) AS rn
      |      FROM b)
      |SELECT doc_id, count(*) AS n_blocks,
      |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN block END, ' ' ORDER BY pos), ''))
      |    AS scrubbed_fp
      |FROM r GROUP BY doc_id""".stripMargin

  /** q106: leakage-safe train/val/test split — the split is a function of
    * the SOURCE (the group key), never the row, so near-duplicate docs from
    * one source can never straddle train and eval (the contamination mode
    * q90 screens for is prevented structurally). Membership is the
    * cross-engine 31-bit polynomial hash of the source string — no rand(),
    * reproducible across engines and partitionings. The report: per-split
    * source/doc/token totals. Per-row expression + one map-side-combinable
    * agg; countDistinct over sources is bounded by the source vocabulary. */
  private def q106(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("split", Curation.groupSplit(col("source")))
      .groupBy(col("split"))
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text"))).cast("long").as("n_toks"))

  private val q106Sql =
    """WITH h AS (SELECT source, text,
      |    list_reduce(list_transform(string_split(source, ''),
      |      c -> CAST(ascii(c) AS BIGINT)),
      |      (a, c) -> (a * 31 + c) % 2147483647) % 100 AS hv FROM documents),
      |a AS (SELECT CASE WHEN hv < 80 THEN 'train'
      |                  WHEN hv < 90 THEN 'val'
      |                  ELSE 'test' END AS split,
      |             source, len(string_split(text,' ')) AS toks FROM h)
      |SELECT split, count(DISTINCT source) AS n_sources, count(*) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS n_toks
      |FROM a GROUP BY split""".stripMargin

  /** q103: deterministic training-order shuffle — the step between "curated
    * corpus" and "training shards": every doc gets a reproducible
    * pseudo-random position ([[Curation.shufflePosition]]); the first 20
    * positions are pinned under the oracle (unique positions ⇒ total
    * order). rand()-based shuffles can't be oracle-checked or re-run
    * reproducibly; this can, and at scale it shards via
    * repartitionByRange(shuffle_pos) with no global sort. */
  private def q103(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("source"),
        Curation.shufflePosition(col("doc_id")).as("shuffle_pos"))
      .orderBy(col("shuffle_pos"), col("doc_id"))
      .limit(20)

  private val q103Sql =
    """SELECT doc_id, source, ((doc_id % 2147483647) * 506952114) % 2147483647 AS shuffle_pos
      |FROM documents ORDER BY shuffle_pos, doc_id LIMIT 20""".stripMargin

  /** q109: Count-Min-Sketch heavy-hitter counts under a contract oracle —
    * the second mergeable-sketch family next to q101's HLL: CMS is a LINEAR
    * sketch, so per-partition sketches merged by counter addition are
    * IDENTICAL to one global build (asserted byte-for-byte in CurationSpec).
    * Here per-lang sketches (`count_min_sketch` partial agg, one map-side-
    * combinable shuffle) merge on the driver (bounded: one sketch per lang)
    * and every token's estimate is checked against its exact count: CMS
    * never underestimates (hard guarantee), and overshoot stays within
    * eps·N (holds deterministically for seed 42; like q44's 5% HLL
    * contract, the oracle pins the booleans + exact corpus stats — DuckDB
    * can't build the sketch itself). At 100 TB the exact groupBy is what
    * you CAN'T afford on a heavy-tailed token space — the sketch is the
    * fixed-memory (eps⁻¹·ln δ⁻¹ counters) answer, and mergeability is what
    * lets every executor sketch its partition independently. */
  private def q109(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val toks = docs(s, d).select(col("lang"),
      explode(TextFunctions.words(col("text"))).as("w"))
    val perLang = toks.groupBy(col("lang"))
      .agg(expr("count_min_sketch(w, CAST(0.001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)").as("sk"))
      .collect()
    val merged = perLang.map(r => CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("sk"))))
      .reduceLeft { (a, b) => a.mergeInPlace(b); a }
    val bc = s.sparkContext.broadcast(merged)
    val est = udf((w: String) => bc.value.estimateCount(w))
    val epsBound = math.ceil(0.001 * merged.totalCount()).toLong
    toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("est", est(col("w")))
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("cnt")).cast("long").as("n_tokens"),
        (sum(when(col("est") >= col("cnt"), 1)) === count(lit(1)))
          .as("never_underestimates"),
        (sum(when(col("est") <= col("cnt") + lit(epsBound), 1)) === count(lit(1)))
          .as("within_eps"))
  }

  private val q109Sql =
    """WITH t AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
      |c AS (SELECT w, count(*) AS cnt FROM t GROUP BY w)
      |SELECT count(*) AS n_distinct, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |  TRUE AS never_underestimates, TRUE AS within_eps
      |FROM c""".stripMargin

  /** q110: BPE vocab induction, first-merge statistic — corpus-wide
    * frequencies of adjacent CHARACTER pairs within words (the statistic a
    * byte-pair-encoding tokenizer trainer maximizes each merge round),
    * top-20 with a total order. One native per-doc pair array
    * ([[graft.functions.WordCharPairs]] — the composed two-explode +
    * per-word HOF form ran interpreted at 4.1× the DuckDB yardstick) +
    * one narrow explode into a map-side-combinable count and a
    * TakeOrderedAndProject; the iteration loop of a real trainer re-runs
    * this with merged symbols substituted, so the per-round shape is what
    * matters at 100 TB. */
  private def q110(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(graft.functions.WordCharPairs(col("text"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  private val q110Sql =
    """WITH w AS (SELECT unnest(string_split(text,' ')) AS word FROM documents),
      |c AS (SELECT string_split(word,'') AS cs FROM w),
      |p AS (SELECT cs[i] || cs[i+1] AS pair
      |      FROM c, unnest(generate_series(1, len(cs)-1)) AS t(i)),
      |g AS (SELECT pair, count(*) AS n FROM p GROUP BY pair)
      |SELECT pair, CAST(n AS BIGINT) AS n FROM g ORDER BY n DESC, pair LIMIT 20""".stripMargin

  /** q112: corpus snapshot diff — two simulated crawls (yesterday: ids
    * ≢6 mod 7; today: ids ≢0 mod 7, with ids ≡3 mod 7 textually revised)
    * diffed by content fingerprint into added/removed/changed/unchanged
    * counts. The diff is what gates incremental processing: only
    * added ∪ changed re-enter dedup/embed/index (q95's batch side).
    * One key-join shuffle carrying (key, hash) — never the text — plus a
    * map-side-combinable count. */
  private def q112(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val yesterday = all.filter(col("doc_id") % 7 =!= 6)
    val today = all.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 3, " rev2").otherwise("")))
    Curation.snapshotDiff(yesterday, today)
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
  }

  private val q112Sql =
    """WITH a AS (SELECT doc_id, md5(text) AS fp, TRUE AS pres
      |           FROM documents WHERE doc_id % 7 != 6),
      |b AS (SELECT doc_id,
      |        md5(text || CASE WHEN doc_id % 7 = 3 THEN ' rev2' ELSE '' END) AS fp,
      |        TRUE AS pres
      |      FROM documents WHERE doc_id % 7 != 0),
      |d AS (SELECT CASE WHEN a.pres IS NULL THEN 'added'
      |                  WHEN b.pres IS NULL THEN 'removed'
      |                  WHEN a.fp IS NOT DISTINCT FROM b.fp THEN 'unchanged'
      |                  ELSE 'changed' END AS status
      |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT status, count(*) AS n FROM d GROUP BY status""".stripMargin

  /** q113: source-mix rebalancing with DERIVED rates — temperature-style
    * flattening toward the smallest source: rate_pct(source) =
    * max(1, 100·min_toks ÷ n_toks), all in exact integer arithmetic
    * (floating temperature exponents would put an engine-dependent ULP on
    * the sampling boundary; integer division keeps the boundary exact on
    * both engines). The rates come FROM corpus stats (unlike q91's given
    * rates): one agg to a 1-row min, broadcast back over the 20-row source
    * dim, then the same shuffle-free hash-membership sampling as q91.
    * Per-source report: docs, tokens, derived rate, surviving docs. */
  private def q113(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(col("source"), col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("toks"))
    val perSource = t.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).cast("long").as("n_toks"))
    val rates = perSource
      .crossJoin(broadcast(perSource.agg(min(col("n_toks")).as("min_toks"))))
      .withColumn("rate", greatest(lit(1L), expr("(100 * min_toks) div n_toks")))
      .drop("min_toks")
    val sampled = t
      .join(broadcast(rates.select(col("source"), col("rate"))), "source")
      .groupBy(col("source"))
      .agg(sum(when(Curation.hashSampled(col("doc_id"), col("rate")), 1)
        .otherwise(0)).cast("long").as("n_sampled"))
    rates.join(sampled, "source")
      .select(col("source"), col("n_docs"), col("n_toks"), col("rate"),
        col("n_sampled"))
  }

  private val q113Sql =
    """WITH t AS (SELECT source, doc_id, len(string_split(text,' ')) AS toks
      |           FROM documents),
      |s AS (SELECT source, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_toks
      |      FROM t GROUP BY source),
      |r AS (SELECT source, n_docs, n_toks,
      |        greatest(1, (100 * (SELECT min(n_toks) FROM s)) // n_toks) AS rate
      |      FROM s)
      |SELECT r.source, r.n_docs, r.n_toks, r.rate,
      |  CAST(sum(CASE WHEN ((t.doc_id % 100) * 61) % 100 < r.rate
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM t JOIN r USING (source)
      |GROUP BY r.source, r.n_docs, r.n_toks, r.rate""".stripMargin

  /** q123: EXACT-k stratified sample — "exactly 5 docs per source",
    * deterministically: rank by the reproducible shuffle position
    * ([[Curation.shufflePosition]]) within each stratum, keep rank ≤ k.
    * rand()-based sampling can't be replayed or oracle-checked, and
    * hash-rate sampling (q91) gives binomial counts; this gives exact
    * counts AND a stable sample across runs/engines/partitionings. The
    * stratum-keyed window is map-side-pruned by Spark's native
    * WindowGroupLimit (PlanSpec-pinned), so only ≤ partitions·k rows per
    * stratum reach the exchange at any scale. */
  private def q123(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("pos"), col("doc_id"))
    docs(s, d)
      .withColumn("pos", Curation.shufflePosition(col("doc_id")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk"), col("doc_id"), col("pos"))
  }

  private val q123Sql =
    """WITH p AS (SELECT source, doc_id,
      |    ((doc_id % 2147483647) * 506952114) % 2147483647 AS pos FROM documents),
      |r AS (SELECT source, doc_id, pos, row_number() OVER
      |        (PARTITION BY source ORDER BY pos, doc_id) AS rk FROM p)
      |SELECT source, rk, doc_id, pos FROM r WHERE rk <= 5""".stripMargin

  /** q124: join-key skew diagnosis — the pre-flight report that picks the
    * join strategy (plain vs salted q63 vs hot-key-split q64): per-key row
    * counts reduced to total keys/rows, the heaviest key's share, and the
    * top-10 keys' share (both in integer ppm — no float boundary). One
    * map-side-combinable count + a 10-row TakeOrdered; at 100 TB this runs
    * on a sample partition or the previous day's stats table, and the
    * thresholds (e.g. top-1 share > 5%) gate the salting decision. */
  private def q124(s: SparkSession, d: String): DataFrame = {
    val counts = graft.Tables.lineitem(s, d)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
    // no global window over the counts table (that single-partition sort is
    // the very anti-pattern this report exists to prevent): totals are one
    // map-side-combinable agg, the top-10 is TakeOrderedAndProject, and the
    // two 1-row results cross-join broadcast
    val totals = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("cnt")).cast("long").as("n_rows"),
      max(col("cnt")).cast("long").as("max_key_rows"))
    val top10 = counts.orderBy(col("cnt").desc, col("l_suppkey")).limit(10)
      .agg(sum(col("cnt")).cast("long").as("top10_rows"))
    totals.crossJoin(broadcast(top10))
      .withColumn("max_share_ppm", expr("(1000000 * max_key_rows) div n_rows"))
      .withColumn("top10_share_ppm", expr("(1000000 * top10_rows) div n_rows"))
  }

  /** q126: BPE vocabulary induction, ≥3 full merge rounds
    * ([[BpeTrainer.train]]) — iterates q110's one-round statistic into the
    * real trainer loop: count pairs → merge argmax pair → re-tokenize.
    * The oracle replays the identical rounds as statically unrolled CTEs
    * (same separator-wrapped replace, same (n desc, l, r) tiebreak), so
    * every round's merge rule is value-pinned, not just round 1's. */
  private def q126(s: SparkSession, d: String): DataFrame =
    BpeTrainer.train(docs(s, d), "text", rounds = 3)

  /** The unrolled-BPE WITH body: per round i, pair counts g_i, argmax
    * merge rule m_i, and (when needed) the re-segmented corpus s_i. DuckDB
    * replays exactly the trainer's algebra — same separator-wrapped
    * replace, same (n desc, l, r) tiebreak. */
  private def bpeUnrolledCtes(rounds: Int, emitFinalSeg: Boolean): String = {
    val ctes = (1 to rounds).map { i =>
      val prev = if (i == 1) "s0" else s"s${i - 1}"
      val merge =
        if (i < rounds || emitFinalSeg)
          // LEFT JOIN ON TRUE, not a cross join: when a round finds no
          // pairs m_i is EMPTY and a cross join would annihilate the
          // corpus — the trainer skips empty rounds, so the oracle must
          // pass the segmentation through unchanged
          s""",
             |s$i AS (SELECT word, CASE WHEN m.l IS NULL THEN s
             |  ELSE replace(s, '|'||m.l||'||'||m.r||'|', '|'||m.l||m.r||'|')
             |  END AS s, cnt FROM $prev LEFT JOIN m$i m ON TRUE)""".stripMargin
        else ""
      s"""g$i AS (
         |  SELECT cs[i] AS l, cs[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM (SELECT string_split(trim(s,'|'),'||') AS cs, cnt FROM $prev),
         |       unnest(generate_series(1, len(cs)-1)) t(i)
         |  GROUP BY 1,2),
         |m$i AS (SELECT $i AS step, l, r, l||r AS merged, n FROM g$i
         |        ORDER BY n DESC, l, r LIMIT 1)$merge""".stripMargin
    }.mkString(",\n")
    s"""WITH wc AS (
       |  SELECT word, count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
       |  GROUP BY word),
       |s0 AS (SELECT word,
       |       '|' || array_to_string(string_split(word,''),'||') || '|' AS s,
       |       cnt FROM wc),
       |$ctes""".stripMargin
  }

  private val q126Sql: String = {
    val rounds = 3
    val union = (1 to rounds).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    s"""${bpeUnrolledCtes(rounds, emitFinalSeg = false)}
       |SELECT step, l AS pair_left, r AS pair_right, merged, n FROM ($union)""".stripMargin
  }

  /** q130: BPE ENCODE — apply the 3 trained merge rules in training order
    * and count the resulting corpus token frequencies, top-20
    * ([[BpeTrainer.encode]]): the production tokenize step the trained
    * vocab exists for, closing the train→encode loop. The oracle unrolls
    * training AND encoding (final re-segmentation s3 → token counts). */
  private def q130(s: SparkSession, d: String): DataFrame = {
    val rules = BpeTrainer.trainMerges(docs(s, d), "text", rounds = 3)
    BpeTrainer.encode(docs(s, d), "text", rules)
      .orderBy(col("n").desc, col("token"))
      .limit(20)
  }

  private val q130Sql: String =
    s"""${bpeUnrolledCtes(3, emitFinalSeg = true)},
       |t AS (SELECT unnest(string_split(trim(s,'|'),'||')) AS token, cnt
       |      FROM s3)
       |SELECT token, CAST(sum(cnt) AS BIGINT) AS n FROM t
       |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin

  /** q133: the composed training-batch prep path — train the BPE vocab
    * (q126), count each document's BPE tokens with the trained merges as a
    * pure column expression ([[BpeTrainer.tokenCountCol]] — re-segmenting
    * counts, not whitespace counts), and greedily pack docs into 256-token
    * sequences per source ([[Curation.packByCounts]], q94's packer over
    * real token lengths). The oracle replays the trained segmentation
    * per WORD (the unrolled CTEs now carry `word`), joins it back to doc
    * tokens, and reruns the packing window. End to end: tokenizer →
    * lengths → packs, all value-pinned. */
  private def q133(s: SparkSession, d: String): DataFrame = {
    val d0 = docs(s, d)
    val merges = BpeTrainer.trainMerges(d0, "text", rounds = 3)
    val counted = d0.withColumn("toks",
      BpeTrainer.tokenCountCol(col("text"), merges))
    Curation.packByCounts(counted, capacity = 256)
      .groupBy(col("source"), col("pack"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).cast("long").as("toks"))
      .withColumn("fill", round(col("toks").cast("double") / 256.0, 4))
  }

  private val q133Sql: String =
    s"""${bpeUnrolledCtes(3, emitFinalSeg = true)},
       |v AS (SELECT word, len(string_split(trim(s,'|'),'||')) AS wtoks
       |      FROM s3),
       |tok AS (SELECT source, doc_id, unnest(string_split(text,' ')) AS word
       |        FROM documents),
       |dt AS (SELECT source, doc_id, sum(v.wtoks) AS toks
       |       FROM tok JOIN v USING (word) GROUP BY 1, 2),
       |c AS (SELECT source, doc_id, toks,
       |        sum(toks) OVER (PARTITION BY source ORDER BY doc_id
       |                        ROWS UNBOUNDED PRECEDING) AS cum FROM dt)
       |SELECT source, CAST((cum - toks) // 256 AS BIGINT) AS pack,
       |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS toks,
       |  round(CAST(sum(toks) AS DOUBLE) / 256.0, 4) AS fill
       |FROM c GROUP BY 1, 2""".stripMargin

  private val q124Sql =
    """WITH c AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1),
      |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS rk
      |      FROM c)
      |SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
      |  CAST(max(cnt) AS BIGINT) AS max_key_rows,
      |  CAST(sum(CASE WHEN rk <= 10 THEN cnt END) AS BIGINT) AS top10_rows,
      |  CAST((1000000 * max(cnt)) // sum(cnt) AS BIGINT) AS max_share_ppm,
      |  CAST((1000000 * sum(CASE WHEN rk <= 10 THEN cnt END)) // sum(cnt) AS BIGINT) AS top10_share_ppm
      |FROM r""".stripMargin

  /** q139: contamination REMOVAL — q90's screen applied as the decision
    * (the q137 pattern for the contamination axis): training docs whose
    * eval-set 5-gram overlap is ≥ 0.5 are dropped, and the clean corpus is
    * reported per source as kept/dropped docs and kept tokens. The flagged
    * set is screen-bounded (≤ one row per contaminated doc), so the prune
    * is a broadcast join against the training scan — no fact shuffle. Docs
    * under the gram width have no shingles, are absent from the screen, and
    * are kept (same contract as q90). */
  private def q139(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val train = all.filter(col("doc_id") % 10 =!= 0)
    val flagged = Curation.contaminationCounts(
        train, all.filter(col("doc_id") % 10 === 0), n = 5)
      .filter(col("n_contam").cast("double") / col("n_sh") >= 0.5)
      .select(col("doc_id"), lit(1).as("hit"))
    train.join(broadcast(flagged), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(when(col("hit").isNull, 1)).as("n_kept"),
        count(col("hit")).as("n_dropped"),
        sum(when(col("hit").isNull, tokenCount(col("text")))
          .otherwise(0L)).cast("long").as("kept_tokens"))
  }

  private val q139Sql =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws)>=5
      |  THEN list_transform(generate_series(1,len(ws)-4),
      |       i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])
      |  ELSE [] END) AS sg FROM w),
      |ev AS (SELECT DISTINCT unnest(sg) AS s FROM sh WHERE doc_id % 10 = 0),
      |tr AS (SELECT doc_id, unnest(sg) AS s FROM sh WHERE doc_id % 10 != 0),
      |ov AS (SELECT tr.doc_id, count(*) AS n_sh, count(ev.s) AS n_contam
      |       FROM tr LEFT JOIN ev ON tr.s = ev.s GROUP BY 1),
      |fl AS (SELECT doc_id FROM ov WHERE CAST(n_contam AS DOUBLE)/n_sh >= 0.5)
      |SELECT d.source,
      |  count(CASE WHEN fl.doc_id IS NULL THEN 1 END) AS n_kept,
      |  count(fl.doc_id) AS n_dropped,
      |  CAST(sum(CASE WHEN fl.doc_id IS NULL
      |       THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM documents d LEFT JOIN fl ON d.doc_id = fl.doc_id
      |WHERE d.doc_id % 10 != 0
      |GROUP BY d.source""".stripMargin

  /** q140: per-source quality FLOOR — percentile-threshold filtering with
    * exact-rank semantics (no approx_percentile: interpolation differs
    * across engines, ranks do not): each source keeps its top 90% of docs
    * by (token count, doc_id) rank, and the report shows the kept count,
    * the effective floor (min kept token count), and kept tokens. The
    * window is PARTITIONED by source — parallel across sources, never a
    * global sort (the q53→q85 lesson) — and the count side rides the same
    * partitioning. */
  private def q140(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_toks").desc, col("doc_id"))
    docs(s, d)
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("n_toks"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy(col("source"))))
      .filter(col("rk") <= expr("9 * n_src DIV 10"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("n_toks")).as("floor_toks"),
        sum(col("n_toks")).cast("long").as("kept_tokens"))
  }

  private val q140Sql =
    """WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_toks
      |           FROM documents),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source
      |                 ORDER BY n_toks DESC, doc_id) AS rk,
      |        count(*) OVER (PARTITION BY source) AS n_src
      |      FROM t)
      |SELECT source, count(*) AS n_kept, min(n_toks) AS floor_toks,
      |  CAST(sum(n_toks) AS BIGINT) AS kept_tokens
      |FROM r WHERE rk <= (9 * n_src) // 10
      |GROUP BY source""".stripMargin

  /** q141: corpus ↔ vector-index integrity audit — after a prune (here the
    * doc_id%10 eval holdout plays "removed docs") the index contains
    * ORPHANED vectors and may miss embeddings for kept docs; both failure
    * modes are counted by one full-outer join on the id, with an exact
    * orphan-id checksum so the oracle pins WHICH vectors are orphaned, not
    * just how many. The join keys are unique ids — uniform, shuffle-safe,
    * and at 100 TB exactly the reconciliation a nightly index-hygiene job
    * runs before compacting the index. */
  private def q141(s: SparkSession, d: String): DataFrame = {
    val kept = docs(s, d).filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"))
    val vecs = emb(s, d).select(col("vec_id"))
    kept.join(vecs, col("doc_id") === col("vec_id"), "full_outer")
      .agg(
        count(when(col("doc_id").isNotNull && col("vec_id").isNotNull, 1))
          .as("n_matched"),
        count(when(col("vec_id").isNull, 1)).as("n_unembedded_docs"),
        count(when(col("doc_id").isNull, 1)).as("n_orphan_vecs"),
        coalesce(sum(when(col("doc_id").isNull, col("vec_id"))), lit(0L))
          .cast("long").as("orphan_id_sum"))
  }

  private val q141Sql =
    """WITH k AS (SELECT doc_id FROM documents WHERE doc_id % 10 != 0),
      |v AS (SELECT vec_id FROM embeddings)
      |SELECT count(CASE WHEN k.doc_id IS NOT NULL AND v.vec_id IS NOT NULL
      |             THEN 1 END) AS n_matched,
      |  count(CASE WHEN v.vec_id IS NULL THEN 1 END) AS n_unembedded_docs,
      |  count(CASE WHEN k.doc_id IS NULL THEN 1 END) AS n_orphan_vecs,
      |  CAST(coalesce(sum(CASE WHEN k.doc_id IS NULL THEN v.vec_id END), 0)
      |       AS BIGINT) AS orphan_id_sum
      |FROM k FULL OUTER JOIN v ON k.doc_id = v.vec_id""".stripMargin

  /** q134: cross-document duplicate n-gram fraction — the corpus-wide
    * complement of q93's within-doc repetition: for each doc, the share of
    * its distinct 5-grams that occur in ≥2 documents (Gopher-style
    * boilerplate/mirror signal; the filter step drops docs above a
    * threshold). Reported in integer basis points ((10000·n_shared) div
    * n_grams) so the oracle compare stays in exact integer space — no
    * round() boundary (QueryDef determinism rules). Scale shape documented
    * on [[Curation.crossDocDupCounts]]. */
  private def q134(s: SparkSession, d: String): DataFrame =
    Curation.crossDocDupCounts(docs(s, d), n = 5, minDocs = 2)
      .filter(col("n_grams") > 0)
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        expr("10000 * n_shared DIV n_grams").as("dup_bp"))

  private val q134Sql =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT doc_id, list_distinct(CASE WHEN len(ws)>=5
      |  THEN list_transform(generate_series(1,len(ws)-4),
      |       i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])
      |  ELSE [] END) AS sg FROM w),
      |e AS (SELECT doc_id, unnest(sg) AS gram FROM g),
      |df AS (SELECT gram, count(*) AS nd FROM e GROUP BY gram),
      |r AS (SELECT e.doc_id, count(*) AS n_grams,
      |        CAST(sum(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      |      FROM e JOIN df USING (gram) GROUP BY e.doc_id)
      |SELECT doc_id, n_grams, n_shared, (10000 * n_shared) // n_grams AS dup_bp
      |FROM r WHERE n_grams > 0""".stripMargin

  /** q152: a quality classifier TRAINED IN THE ENGINE ([[Classifier]] —
    * the CCNet/fastText filter shape): label = whether the doc contains
    * the word "table", features = 16 hashed bag-of-words counts, 3
    * batch-perceptron rounds (each ONE combinable aggregation; the model
    * is 17 driver-side longs), then the trained scorer applied back to
    * the corpus. All integer arithmetic, so the DuckDB oracle replays
    * the IDENTICAL training loop as unrolled CTEs (the q126 BPE
    * discipline) and every score/prediction must hash-match exactly. */
  private def q152(s: SparkSession, d: String): DataFrame = {
    val labeled = docs(s, d).select(col("doc_id"), col("text"),
      when(array_contains(split(col("text"), " "), "table"), 1L)
        .otherwise(-1L).as("y"))
    val (w, b) = Classifier.trainPerceptron(labeled, "text", "y",
      nF = 16, iters = 3)
    val scored = labeled.select(col("doc_id"), col("y"),
      Classifier.scoreExpr(
        Classifier.hashedCounts(col("text"), 16), w, b).as("score"))
    scored.select(col("doc_id"), col("score"),
        Classifier.predExpr(col("score")).as("pred"), col("y"))
      .filter(col("doc_id") < 50)
      .orderBy(col("doc_id"))
  }

  /** The perceptron loop unrolled to SQL: wT/biasT carry the model after
    * round T; sT scores every doc under the round-entry model; gT is the
    * misclassified-row gradient. Integer-exact end to end. */
  private val (q152Sql, q157Sql): (String, String) = {
    val nF = 16
    val iters = 3
    val base =
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |             FROM documents),
        |hb AS (SELECT doc_id,
        |         list_reduce(list_transform(string_split(word, ''),
        |             c -> CAST(ascii(c) AS BIGINT)),
        |           (a, c) -> (a * 31 + c) % 2147483647) % $nF AS b
        |       FROM tok WHERE word <> ''),
        |x AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
        |      FROM hb GROUP BY 1, 2),
        |lab AS (SELECT doc_id,
        |          CASE WHEN list_contains(string_split(text, ' '), 'table')
        |               THEN 1 ELSE -1 END AS y
        |        FROM documents),
        |bk AS (SELECT unnest(generate_series(0, ${nF - 1})) AS b),
        |w0 AS (SELECT b, CAST(0 AS BIGINT) AS w FROM bk),
        |bias0 AS (SELECT CAST(0 AS BIGINT) AS bb)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""dot$t AS (SELECT x.doc_id, CAST(sum(x.c * w.w) AS BIGINT) AS dp
        |          FROM x JOIN w${t - 1} w USING (b) GROUP BY 1),
        |s$t AS (SELECT lab.doc_id, lab.y,
        |          coalesce(d.dp, 0) + (SELECT bb FROM bias${t - 1}) AS sc
        |        FROM lab LEFT JOIN dot$t d USING (doc_id)),
        |g$t AS (SELECT x.b, CAST(sum(s.y * x.c) AS BIGINT) AS g
        |        FROM s$t s JOIN x USING (doc_id)
        |        WHERE (CASE WHEN s.sc > 0 THEN 1 ELSE -1 END) <> s.y
        |        GROUP BY 1),
        |w$t AS (SELECT bk.b, CAST(w.w + coalesce(g.g, 0) AS BIGINT) AS w
        |        FROM bk JOIN w${t - 1} w USING (b)
        |        LEFT JOIN g$t g USING (b)),
        |bias$t AS (SELECT CAST((SELECT bb FROM bias${t - 1}) +
        |             coalesce((SELECT sum(y) FROM s$t
        |               WHERE (CASE WHEN sc > 0 THEN 1 ELSE -1 END) <> y),
        |               0) AS BIGINT) AS bb)""".stripMargin
    }
    val fin = iters + 1
    val score =
      s"""dot$fin AS (SELECT x.doc_id, CAST(sum(x.c * w.w) AS BIGINT) AS dp
        |          FROM x JOIN w$iters w USING (b) GROUP BY 1),
        |s$fin AS (SELECT lab.doc_id, lab.y,
        |          coalesce(d.dp, 0) + (SELECT bb FROM bias$iters) AS sc
        |        FROM lab LEFT JOIN dot$fin d USING (doc_id))""".stripMargin
    val ctes = (Seq(base) ++ rounds ++ Seq(score)).mkString(",\n")
    val q152 = ctes +
      s"""
        |SELECT doc_id, CAST(sc AS BIGINT) AS score,
        |  CAST(CASE WHEN sc > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
        |  CAST(y AS BIGINT) AS y
        |FROM s$fin WHERE doc_id < 50 ORDER BY doc_id""".stripMargin
    val q157 = ctes +
      s"""
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN s.sc > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept
        |FROM s$fin s JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin
    (q152, q157)
  }

  /** q157: the trained filter DEPLOYED as a corpus prune (q139/q140's
    * end-step shape for the q152 model): train the same 3-round
    * perceptron, score every doc with the pure-expression scorer, and
    * report per-source survivors — the oracle replays training via the
    * shared unrolled CTEs and re-aggregates the identical decision. */
  private def q157(s: SparkSession, d: String): DataFrame = {
    val labeled = docs(s, d).select(col("doc_id"), col("source"), col("text"),
      when(array_contains(split(col("text"), " "), "table"), 1L)
        .otherwise(-1L).as("y"))
    val (w, b) = Classifier.trainPerceptron(labeled, "text", "y",
      nF = 16, iters = 3)
    labeled
      .withColumn("score", Classifier.scoreExpr(
        Classifier.hashedCounts(col("text"), 16), w, b))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** q153: exact duplicated-span EXCISION
    * ([[Curation.scrubDuplicatedSpans]]) — q134 measures cross-doc 5-gram
    * duplication, this removes it: every word covered by a 5-gram
    * appearing in ≥2 distinct docs is cut, docs are rebuilt from the
    * survivors in order, and the oracle re-derives the full rebuilt text
    * (compared by md5 so rows stay small — any divergence in which words
    * survive or their order flips the digest). */
  private def q153(s: SparkSession, d: String): DataFrame =
    Curation.scrubDuplicatedSpans(docs(s, d), n = 5, minDocs = 2)
      .select(col("doc_id"), col("n_words"), col("n_kept"),
        (col("n_words") - col("n_kept")).as("n_removed"),
        md5(col("scrubbed")).as("sig"))
      .orderBy(col("doc_id"))

  private val q153Sql =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |st AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 5
      |         THEN generate_series(1, len(ws)-4) ELSE [] END) AS s FROM w),
      |gr AS (SELECT st.doc_id, st.s,
      |         w.ws[st.s]||' '||w.ws[st.s+1]||' '||w.ws[st.s+2]||' '||
      |           w.ws[st.s+3]||' '||w.ws[st.s+4] AS gram
      |       FROM st JOIN w USING (doc_id)),
      |dup AS (SELECT gram FROM (
      |         SELECT gram, count(DISTINCT doc_id) AS nd FROM gr GROUP BY 1)
      |        WHERE nd >= 2),
      |cov AS (SELECT DISTINCT doc_id, p FROM (
      |         SELECT doc_id, unnest(generate_series(s, s+4)) AS p
      |         FROM gr WHERE gram IN (SELECT gram FROM dup))),
      |pos AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS p FROM w),
      |pw AS (SELECT pos.doc_id, pos.p, w.ws[pos.p] AS word
      |       FROM pos JOIN w USING (doc_id)),
      |kept AS (SELECT pw.doc_id, pw.p, pw.word
      |         FROM pw LEFT JOIN cov ON pw.doc_id = cov.doc_id AND pw.p = cov.p
      |         WHERE cov.p IS NULL),
      |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |               string_agg(word, ' ' ORDER BY p) AS scrubbed
      |        FROM kept GROUP BY 1)
      |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
      |       coalesce(r.n_kept, 0) AS n_kept,
      |       CAST(len(w.ws) AS BIGINT) - coalesce(r.n_kept, 0) AS n_removed,
      |       md5(coalesce(r.scrubbed, '')) AS sig
      |FROM w LEFT JOIN reb r USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q156: temperature-flattened source mixing
    * ([[Curation.temperatureSampleReport]], α = 0.5) — q113 rebalances to
    * GIVEN target rates; this derives the rates from the corpus itself
    * (keep ∝ sqrt(n_min/n_s), the mT5 recipe) with an exact-integer keep
    * test (u² · n_s < n_min · 2^40), so both engines agree on every
    * kept/dropped doc and the report hashes exactly. */
  private def q156(s: SparkSession, d: String): DataFrame =
    Curation.temperatureSampleReport(docs(s, d))
      .orderBy(col("source"))

  private val q156Sql =
    """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total
      |           FROM documents GROUP BY 1),
      |m AS (SELECT min(n_total) AS n_min FROM c),
      |k AS (SELECT d.source, c.n_total, m.n_min,
      |        CASE WHEN (((d.doc_id % 1048576) * 489905) % 1048576)
      |               * (((d.doc_id % 1048576) * 489905) % 1048576)
      |               * c.n_total < m.n_min * 1099511627776
      |             THEN 1 ELSE 0 END AS kept
      |      FROM documents d JOIN c USING (source), m)
      |SELECT source, n_total, CAST(sum(kept) AS BIGINT) AS n_kept, n_min
      |FROM k GROUP BY source, n_total, n_min
      |ORDER BY source""".stripMargin

  /** q161: DSIR importance RESAMPLING ([[Curation.importanceRatios]]) —
    * the data-selection step between "raw crawl" and "training mix": the
    * `lang = 'en'` slice plays the high-quality target distribution, every
    * other doc is scored by the fixed-point hashed-bucket likelihood-ratio
    * model (Σ_b c_b·L_b — integer-exact, see the op scaladoc), and each
    * source keeps its top 30% by exact rank. Two 1-row model aggregations +
    * a shuffle-free scoring expression + one source-keyed rank window —
    * at 100 TB the ratio table is trained once on bounded samples and the
    * keep decision streams. The oracle retrains the identical model in SQL
    * (same 31-bit polynomial hash, same smoothing, same `div`). */
  private def q161(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val nB = 32
    val l = Curation.importanceRatios(
      target = all.filter(col("lang") === "en"),
      raw = all.filter(col("lang") =!= "en"),
      textCol = "text", nB = nB)
    val scored = all.filter(col("lang") =!= "en")
      .select(col("doc_id"), col("source"),
        Classifier.scoreExpr(
          Classifier.hashedCounts(col("text"), nB), l, 0L).as("iw"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("iw").desc, col("doc_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("ns",
        count(lit(1)).over(Window.partitionBy(col("source"))).cast("long"))
      .filter(col("rk") * 10 <= col("ns") * 3)
      .select(col("doc_id"), col("source"), col("iw"), col("rk"))
  }

  private val q161Sql = {
    val pwh = """list_reduce(list_transform(string_split(w, ''),
      |          c -> CAST(ascii(c) AS BIGINT)),
      |          (a, c) -> (a * 31 + c) % 2147483647) % 32""".stripMargin
    s"""WITH tw AS (SELECT unnest(string_split(text, ' ')) AS w
      |            FROM documents WHERE lang = 'en'),
      |thb AS (SELECT $pwh AS b FROM tw WHERE w <> ''),
      |rw AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      |       FROM documents WHERE lang <> 'en'),
      |rhb AS (SELECT doc_id, source, $pwh AS b FROM rw WHERE w <> ''),
      |bs AS (SELECT unnest(generate_series(0, 31)) AS b),
      |tc AS (SELECT bs.b, count(thb.b) + 1 AS t
      |       FROM bs LEFT JOIN thb ON bs.b = thb.b GROUP BY 1),
      |rc AS (SELECT bs.b, count(rhb.b) + 1 AS r
      |       FROM bs LEFT JOIN rhb ON bs.b = rhb.b GROUP BY 1),
      |lt AS (SELECT tc.b, (tc.t * 1048576) // rc.r AS l
      |       FROM tc JOIN rc ON tc.b = rc.b),
      |ds AS (SELECT d.doc_id, d.source,
      |         coalesce(CAST(sum(lt.l) AS BIGINT), 0) AS iw
      |       FROM (SELECT doc_id, source FROM documents WHERE lang <> 'en') d
      |       LEFT JOIN rhb ON d.doc_id = rhb.doc_id
      |       LEFT JOIN lt ON rhb.b = lt.b
      |       GROUP BY 1, 2),
      |rkd AS (SELECT doc_id, source, iw,
      |          row_number() OVER (PARTITION BY source
      |                             ORDER BY iw DESC, doc_id) AS rk,
      |          count(*) OVER (PARTITION BY source) AS ns
      |        FROM ds)
      |SELECT doc_id, source, iw, rk FROM rkd WHERE rk * 10 <= ns * 3""".stripMargin
  }

  /** q162: LM-perplexity quality TIERS ([[Curation.transitionScores]]) —
    * the CCNet head/middle/tail cut: the engine-trained bigram transition
    * model scores every doc (mean fixed-point inverse transition
    * probability — integer-exact, see the op scaladoc), and each language
    * splits into thirds by exact rank (tier 0 = most predictable text).
    * The oracle retrains the identical counts and replays the identical
    * integer score, so any divergence in model, score, or tiering flips
    * the hash. */
  private def q162(s: SparkSession, d: String): DataFrame = {
    // lang rides the scoring aggregation as a carry column (functionally
    // dependent on doc_id) — the former scores⋈docs re-join cost a third
    // corpus scan plus a 2×500 k-row exchange at ×100 for a column the
    // scoring pass already had in hand
    val sc = Curation.transitionScores(docs(s, d), carryCols = Seq("lang"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score"), col("doc_id"))
    sc
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("ns",
        count(lit(1)).over(Window.partitionBy(col("lang"))).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_bg"), col("score"),
        col("rk"),
        when(col("rk") * 3 <= col("ns"), "head")
          .when(col("rk") * 3 <= col("ns") * 2, "middle")
          .otherwise("tail").as("tier"))
  }

  private val q162Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bgl AS (SELECT doc_id, CASE WHEN len(ws) >= 2
      |          THEN list_transform(generate_series(1, len(ws) - 1),
      |               i -> ws[i] || ' ' || ws[i+1])
      |          ELSE [] END AS gs FROM w),
      |bg AS (SELECT doc_id, unnest(gs) AS g FROM bgl),
      |bgw AS (SELECT doc_id, g, string_split(g, ' ')[1] AS w1 FROM bg),
      |c2 AS (SELECT g, count(*) AS c2 FROM bgw GROUP BY 1),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bgw GROUP BY 1),
      |vt AS (SELECT count(DISTINCT w) AS v FROM (
      |         SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |       WHERE w <> ''),
      |sc AS (SELECT bgw.doc_id,
      |         ((c1.c1 + vt.v) * 1048576) // (c2.c2 + 1) AS s
      |       FROM bgw JOIN c2 ON bgw.g = c2.g
      |                JOIN c1 ON bgw.w1 = c1.w1, vt),
      |dsc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
      |          CAST(sum(s) AS BIGINT) // CAST(count(*) AS BIGINT) AS score
      |        FROM sc GROUP BY 1),
      |rkd AS (SELECT d.doc_id, doc.lang, d.n_bg, d.score,
      |          row_number() OVER (PARTITION BY doc.lang
      |                             ORDER BY d.score, d.doc_id) AS rk,
      |          count(*) OVER (PARTITION BY doc.lang) AS ns
      |        FROM dsc d JOIN documents doc ON d.doc_id = doc.doc_id)
      |SELECT doc_id, lang, n_bg, score, rk,
      |  CASE WHEN rk * 3 <= ns THEN 'head'
      |       WHEN rk * 3 <= ns * 2 THEN 'middle'
      |       ELSE 'tail' END AS tier
      |FROM rkd""".stripMargin

  /** q164: the END-TO-END curation pipeline — raw corpus to packed
    * training mix in one lineage, composing the library ops the way a
    * production run chains them: the doc_id%10==0 slice plays the held-out
    * benchmark; the rest passes the quality funnel
    * ([[Curation.funnelFlags]]: length gate, repetition gate, exact-dedup
    * survivorship), survivors are DECONTAMINATED against the benchmark
    * ([[Curation.contaminationCounts]], the q90 ≥0.5 rule), and the clean
    * corpus packs into 256-token sequences per source
    * ([[Curation.packSequences]]). Output is one row per (source, pack)
    * with an md5 over the member doc_ids — any doc wrongly kept, dropped,
    * or packed elsewhere flips a digest. Every stage is the already-gated
    * operator; what this query pins is their COMPOSITION (flag semantics
    * feeding the anti-join feeding the pack window). Scale shape: the
    * stages are the same shuffles as their standalone queries — nothing
    * new materializes on the driver. */
  private def q164(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val eval = all.filter(col("doc_id") % 10 === 0)
    val train = all.filter(col("doc_id") % 10 =!= 0)
    val gated = Curation.funnelFlags(train, minToks = 20, maxToks = 80,
        maxRepetition = 0.05)
      .filter(col("p_len") && col("p_rep") && col("p_dedup"))
    val contaminated = Curation.contaminationCounts(gated, eval, n = 5)
      .filter(col("n_contam").cast("double") / col("n_sh") >= 0.5)
      .select(col("doc_id"))
    val clean = gated.join(contaminated, Seq("doc_id"), "left_anti")
    Curation.packSequences(clean, capacity = 256)
      .groupBy(col("source"), col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("toks"),
        md5(concat_ws(",", sort_array(collect_list(col("doc_id")))))
          .as("docs_sig"))
  }

  /** The funnel-gate CTE pair shared by q164/q167 (over `src` rows):
    * 3-gram repetition + length + exact-dedup survivorship. */
  private def gateSql(src: String): String =
    s"""g AS (SELECT doc_id, source, text,
      |    len(string_split(text,' ')) AS n_toks,
      |    CASE WHEN len(string_split(text,' ')) >= 3
      |         THEN list_transform(generate_series(1, len(string_split(text,' ')) - 2),
      |                i -> string_split(text,' ')[i] || ' ' ||
      |                     string_split(text,' ')[i+1] || ' ' ||
      |                     string_split(text,' ')[i+2])
      |         ELSE [] END AS sg,
      |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      |  FROM $src),
      |k AS (SELECT doc_id, source, text, n_toks,
      |        list_distinct(sg) AS sg3 FROM g
      |      WHERE n_toks BETWEEN 20 AND 80
      |        AND len(sg) > 0
      |        AND (1.0 - CAST(len(list_distinct(sg)) AS DOUBLE)/len(sg)) < 0.05
      |        AND doc_id = keeper)""".stripMargin

  /** The decontaminate→pack oracle tail shared by q164/q167 over the
    * `kept` CTE: 5-gram screen against the %10==0 eval slice, then the
    * per-source 256-token pack with doc_id digests. ONE definition — an
    * edit here keeps both composition oracles replaying the same stages. */
  private def decontamPackSql(kept: String): String =
    s"""ksh AS (SELECT doc_id, unnest(list_distinct(
      |          CASE WHEN len(string_split(text,' ')) >= 5
      |          THEN list_transform(generate_series(1, len(string_split(text,' ')) - 4),
      |               i -> string_split(text,' ')[i]||' '||string_split(text,' ')[i+1]||' '||
      |                    string_split(text,' ')[i+2]||' '||string_split(text,' ')[i+3]||' '||
      |                    string_split(text,' ')[i+4])
      |          ELSE [] END)) AS s FROM $kept),
      |ev AS (SELECT DISTINCT unnest(list_distinct(
      |          CASE WHEN len(string_split(text,' ')) >= 5
      |          THEN list_transform(generate_series(1, len(string_split(text,' ')) - 4),
      |               i -> string_split(text,' ')[i]||' '||string_split(text,' ')[i+1]||' '||
      |                    string_split(text,' ')[i+2]||' '||string_split(text,' ')[i+3]||' '||
      |                    string_split(text,' ')[i+4])
      |          ELSE [] END)) AS s
      |       FROM documents WHERE doc_id % 10 = 0),
      |ov AS (SELECT ksh.doc_id, count(*) AS n_sh, count(ev.s) AS n_contam
      |       FROM ksh LEFT JOIN ev ON ksh.s = ev.s GROUP BY 1),
      |cl AS (SELECT $kept.source, $kept.doc_id, $kept.n_toks AS toks FROM $kept
      |       LEFT JOIN ov ON $kept.doc_id = ov.doc_id
      |       WHERE ov.n_sh IS NULL
      |          OR CAST(ov.n_contam AS DOUBLE) / ov.n_sh < 0.5),
      |c AS (SELECT source, doc_id, toks,
      |        sum(toks) OVER (PARTITION BY source ORDER BY doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum FROM cl)
      |SELECT source, CAST((cum - toks) // 256 AS BIGINT) AS pack,
      |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS toks,
      |  md5(array_to_string(list_sort(list(doc_id)), ',')) AS docs_sig
      |FROM (SELECT source, doc_id, toks, cum FROM c) p
      |GROUP BY source, CAST((cum - toks) // 256 AS BIGINT)""".stripMargin

  private val q164Sql =
    s"""WITH tr AS (SELECT * FROM documents WHERE doc_id % 10 != 0),
      |${gateSql("tr")},
      |${decontamPackSql("k")}""".stripMargin

  /** q167: INCREMENTAL curation against persisted state — the nightly
    * shape q164's one-shot pipeline becomes in production: the curated
    * corpus (doc_id%10 ≥ 2) is already indexed ([[DedupIndex
    * .writeSignatureIndex]]); tonight's batch (%10 == 1) passes the
    * funnel gates, near-dups against the CORPUS via a PRUNED index probe
    * ([[DedupIndex.probeIndex]] — only hit band buckets and candidate
    * shingle buckets are read, per-batch cost ∝ batch spread), is
    * decontaminated against the held-out slice (%10 == 0), and packs.
    * The oracle replays the dedup leg as the brute batch×corpus Jaccard
    * (the q95/q143 equivalence contract: banding at 16×2 misses j≥0.5
    * pairs with probability ≈(1−j²)^16) plus q164's gate/decontaminate/
    * pack replay — so a batch doc wrongly kept, dropped, or packed
    * elsewhere flips a digest. The probe's pair count and min jr are
    * observed as `q167` ([[graft.obs.Record.observed]]). */
  private def q167(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val eval = all.filter(col("doc_id") % 10 === 0)
    val corpus = all.filter(col("doc_id") % 10 >= 2)
    val batch = all.filter(col("doc_id") % 10 === 1)
    val path = graft.TempDirs.scratchAtExit("curate_idx")
      .resolve("idx").toString
    DedupIndex.writeSignatureIndex(corpus, path)
    val gated = Curation.funnelFlags(batch, minToks = 20, maxToks = 80,
        maxRepetition = 0.05)
      .filter(col("p_len") && col("p_rep") && col("p_dedup"))
    // pair stats observed on the probe output: the engine-leg ==
    // brute-oracle equality is the q95/q143 banding contract and
    // DATA-DEPENDENT — a j≥0.5 pair misses all 16 bands with probability
    // (1−j²)^16 (≈1% at j=0.5), so if a future test-data refresh flips
    // this gate, the record shows whether pairs sat in the near-threshold
    // miss regime (recall), not a bug. Pinned once (localCheckpoint): the
    // probe planned on its own writes fewer shuffle records than inlined
    // under the anti-join (q167 + count() at sf0.001: 3,728 vs 3,812), and
    // the observation sits at its job's root, where AQE cannot prune it
    // with an empty anti-join side
    val pairs = DedupIndex.probeIndex(s, path, gated)
      .observe(graft.obs.Profile.observationName("q167"),
        count(lit(1)).as("nearDupPairs"), min(col("jr")).as("minJ"))
      .localCheckpoint(true)
    val nearDup = pairs.select(col("db").as("doc_id")).distinct()
    val deduped = gated.join(nearDup, Seq("doc_id"), "left_anti")
    val contaminated = Curation.contaminationCounts(deduped, eval, n = 5)
      .filter(col("n_contam").cast("double") / col("n_sh") >= 0.5)
      .select(col("doc_id"))
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    Curation.packSequences(clean, capacity = 256)
      .groupBy(col("source"), col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("toks"),
        md5(concat_ws(",", sort_array(collect_list(col("doc_id")))))
          .as("docs_sig"))
  }

  private val q167Sql =
    s"""WITH b AS (SELECT * FROM documents WHERE doc_id % 10 = 1),
      |${gateSql("b")},
      |cw AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents
      |       WHERE doc_id % 10 >= 2),
      |csh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
      |          THEN list_transform(generate_series(1, len(ws) - 2),
      |               i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
      |          ELSE [] END) AS sg3 FROM cw),
      |nd AS (SELECT DISTINCT k.doc_id FROM k JOIN csh ON
      |        CAST(len(list_intersect(k.sg3, csh.sg3)) AS DOUBLE)
      |          / (len(k.sg3) + len(csh.sg3)
      |             - len(list_intersect(k.sg3, csh.sg3))) >= 0.5),
      |k2 AS (SELECT doc_id, source, text, n_toks FROM k
      |       WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
      |${decontamPackSql("k2")}""".stripMargin

  /** q168: TOKENIZER COVERAGE AUDIT — the fertility report every
    * tokenizer change ships with: train the 3-round BPE vocab in-engine
    * (q126's loop), tokenize the corpus with it (q130's encode), and
    * report per-source fertility (tokens per word, integer basis points —
    * the house integer-scaling rule, no float division) plus token/word
    * totals. A vocab regression (merge order, word segmentation) moves
    * fert_bp and flips the hash; the oracle replays the trained vocab as
    * the shared unrolled CTEs. One scan + two combinable aggs. */
  private def q168(s: SparkSession, d: String): DataFrame = {
    val d0 = docs(s, d)
    val merges = BpeTrainer.trainMerges(d0, "text", rounds = 3)
    d0.select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("nw"),
        BpeTrainer.tokenCountCol(col("text"), merges).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).cast("long").as("n_words"),
        sum(col("nt")).cast("long").as("n_toks"))
      .withColumn("fert_bp", expr("(n_toks * 10000L) div n_words"))
  }

  private val q168Sql: String =
    s"""${bpeUnrolledCtes(3, emitFinalSeg = true)},
       |v AS (SELECT word, len(string_split(trim(s,'|'),'||')) AS wtoks
       |      FROM s3),
       |tok AS (SELECT source, doc_id, unnest(string_split(text,' ')) AS word
       |        FROM documents),
       |dt AS (SELECT source, doc_id, CAST(sum(v.wtoks) AS BIGINT) AS nt
       |       FROM tok JOIN v USING (word) GROUP BY 1, 2),
       |dw AS (SELECT source, doc_id,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS nw
       |       FROM documents)
       |SELECT dw.source, count(*) AS n_docs,
       |  CAST(sum(dw.nw) AS BIGINT) AS n_words,
       |  CAST(sum(dt.nt) AS BIGINT) AS n_toks,
       |  (CAST(sum(dt.nt) AS BIGINT) * 10000)
       |    // CAST(sum(dw.nw) AS BIGINT) AS fert_bp
       |FROM dw JOIN dt ON dw.source = dt.source AND dw.doc_id = dt.doc_id
       |GROUP BY dw.source""".stripMargin

  /** q179: balanced training shards — the dataloader-file assignment step
    * after curation: every doc goes to one of 8 shards with near-equal
    * TOKEN totals via [[Curation.balancedShards]]'s deterministic
    * serpentine packing over the exact global (tokens desc, doc_id) rank.
    * Hash assignment (q106's split) balances DOC COUNTS in expectation
    * only; this bounds the TOKEN spread by ~one max-doc regardless of the
    * length distribution (ShardingSpec measures both on the gate corpus).
    * The report: per-shard doc and token totals — the oracle pins the
    * whole assignment (any doc swapping shards moves its tokens). */
  private def q179(s: SparkSession, d: String): DataFrame =
    Curation.balancedShards(docs(s, d), nShards = 8)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("long").as("n_toks"))

  private val q179Sql =
    """WITH t AS (SELECT doc_id, len(string_split(text,' ')) AS n_toks
      |           FROM documents),
      |r AS (SELECT doc_id, n_toks,
      |        row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1 AS rk
      |      FROM t)
      |SELECT CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
      |            ELSE 7 - (rk % 8) END AS shard,
      |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_toks
      |FROM r GROUP BY 1""".stripMargin

  /** q180: fractional-epoch corpus expansion — materializing a mixing
    * plan ([[Curation.epochExpand]]): the token-equalizing plan
    * ([[Curation.epochPlan]], capped at 4 epochs) replicates every doc
    * `repeat_bp div 10000` times plus a deterministic-hash fractional
    * copy, so each source's output token budget approaches the largest
    * source's. q113/q156 derive mixture WEIGHTS; this is the step that
    * writes the mixture: a broadcast plan join + a narrow
    * explode(sequence) — zero shuffles before the report agg. The oracle
    * replays the exact integer arithmetic (div/mod, Knuth draw), so every
    * copy count matches per doc. */
  private def q180(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val plan = Curation.epochPlan(all, capBp = 40000L)
    Curation.epochExpand(all, plan)
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs_in"),
        count(lit(1)).as("n_rows_out"),
        sum(TextFunctions.tokenCount(col("text")).cast("long"))
          .cast("long").as("toks_out"))
  }

  private val q180Sql =
    """WITH t AS (SELECT source, doc_id, len(string_split(text,' ')) AS toks
      |           FROM documents),
      |st AS (SELECT source, CAST(sum(toks) AS BIGINT) AS n_toks
      |       FROM t GROUP BY 1),
      |mx AS (SELECT max(n_toks) AS max_toks FROM st),
      |plan AS (SELECT source,
      |           least(40000, (max_toks * 10000) // n_toks) AS repeat_bp
      |         FROM st, mx),
      |e AS (SELECT t.source, t.doc_id, t.toks,
      |        (p.repeat_bp // 10000)
      |          + CASE WHEN ((((t.doc_id // 2147483648 + t.doc_id)
      |                         % 2147483647) * 506952114) % 2147483647)
      |                     % 10000
      |                      < p.repeat_bp % 10000 THEN 1 ELSE 0 END AS n
      |      FROM t JOIN plan p ON t.source = p.source)
      |SELECT source, count(DISTINCT doc_id) AS n_docs_in,
      |  CAST(sum(n) AS BIGINT) AS n_rows_out,
      |  CAST(sum(n * toks) AS BIGINT) AS toks_out
      |FROM e WHERE n > 0 GROUP BY source""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q90_contamination", q90, Some(q90Sql), bench = true),
    QueryDef("q179_balanced_shards", q179, Some(q179Sql)),
    QueryDef("q180_epoch_expand", q180, Some(q180Sql)),
    QueryDef("q91_stratified_sample", q91, Some(q91Sql)),
    QueryDef("q92_pii_scrub", q92, Some(q92Sql)),
    QueryDef("q93_repetition", q93, Some(q93Sql)),
    QueryDef("q94_seq_packing", q94, Some(q94Sql)),
    QueryDef("q95_incremental_dedup", q95, Some(q95Sql), bench = true),
    QueryDef("q175_capped_incremental", q175, Some(q95Sql)),
    QueryDef("q96_embed_quantize", q96, Some(q96Sql)),
    QueryDef("q97_doc_chunks", q97, Some(q97Sql)),
    QueryDef("q99_quality_funnel", q99, Some(q99Sql)),
    QueryDef("q103_train_shuffle", q103, Some(q103Sql)),
    QueryDef("q105_paragraph_dedup", q105, Some(q105Sql), bench = true),
    QueryDef("q106_leakage_split", q106, Some(q106Sql)),
    QueryDef("q109_cms_contract", q109, Some(q109Sql)),
    QueryDef("q110_vocab_pairs", q110, Some(q110Sql)),
    QueryDef("q112_snapshot_diff", q112, Some(q112Sql)),
    QueryDef("q113_mix_rebalance", q113, Some(q113Sql)),
    QueryDef("q123_exact_sample", q123, Some(q123Sql)),
    QueryDef("q124_skew_report", q124, Some(q124Sql)),
    QueryDef("q126_bpe_merges", q126, Some(q126Sql)),
    QueryDef("q130_bpe_encode", q130, Some(q130Sql)),
    QueryDef("q133_tokenize_pack", q133, Some(q133Sql)),
    QueryDef("q134_cross_doc_grams", q134, Some(q134Sql), bench = true),
    QueryDef("q139_decontam_corpus", q139, Some(q139Sql)),
    QueryDef("q140_quality_floor", q140, Some(q140Sql)),
    QueryDef("q141_index_orphans", q141, Some(q141Sql)),
    QueryDef("q143_dedup_index_probe", q143, Some(q95Sql)),
    QueryDef("q177_capped_index_probe", q177, Some(q95Sql)),
    QueryDef("q144_dedup_index_upsert", q144, Some(q144Sql)),
    QueryDef("q145_stream_ingest_dedup", q145, Some(q145Sql)),
    QueryDef("q152_trained_filter", q152, Some(q152Sql)),
    QueryDef("q153_span_scrub", q153, Some(q153Sql), bench = true),
    QueryDef("q156_temperature_mix", q156, Some(q156Sql)),
    QueryDef("q157_classifier_prune", q157, Some(q157Sql)),
    QueryDef("q161_importance_resample", q161, Some(q161Sql)),
    QueryDef("q162_perplexity_tiers", q162, Some(q162Sql), bench = true),
    QueryDef("q164_curation_pipeline", q164, Some(q164Sql), bench = true),
    QueryDef("q167_incremental_curation", q167, Some(q167Sql)),
    QueryDef("q168_tokenizer_audit", q168, Some(q168Sql)))
}
