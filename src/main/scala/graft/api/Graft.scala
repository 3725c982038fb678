package graft.api

import graft.functions.TextFunctions
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one front door to the engine — a discoverability facade over the
  * 30+ operator objects, grouped the way a training-data pipeline runs:
  * `ingest` → `dedup` → `index` → `retrieve` → `curate` (+ `text` scalar
  * helpers). Every method is a thin delegation to the operator object
  * that owns the implementation (named in each scaladoc), so this file
  * adds no behavior — it is the map. The README quickstart walks this
  * API end-to-end and compiles as a doc test (ApiSpec).
  *
  * SURVEY.md §2 coverage lives on the operator objects themselves;
  * COVERAGE.md maps query ids → operators → specs.
  */
object Graft {

  /** Sources (SURVEY §2.1): the lakehouse tables and raw-file readers. */
  object ingest {
    /** One of the standard parquet tables (region…lineitem, events,
      * documents, embeddings) from an SF dir — [[graft.Tables.load]]. */
    def table(spark: SparkSession, dir: String, name: String): DataFrame =
      graft.Tables.load(spark, dir, name)

    /** Schema-inferred CSV — [[graft.sources.Readers.csvInferred]]. */
    def csv(spark: SparkSession, path: String): DataFrame =
      graft.sources.Readers.csvInferred(spark, path)

    /** JSON lines — [[graft.sources.Readers.articles]]. */
    def json(spark: SparkSession, path: String): DataFrame =
      graft.sources.Readers.articles(spark, path)
  }

  /** Deduplication (L3/L4): exact, MinHash-LSH near-dup (hot-bucket
    * capped), components, and the persisted signature index. */
  object dedup {
    /** Exact duplicate groups by content hash — [[Dedup.exactDupGroups]]. */
    def exactGroups(docs: DataFrame): DataFrame =
      Dedup.exactDupGroups(docs)

    /** Verified near-dup pairs via hot-bucket-capped MinHash-LSH —
      * [[Dedup.minhashDupPairsCapped]] (the 100 TB-safe default; pass
      * `maxBucket = Int.MaxValue` for the uncapped q35 semantics). Pins
      * three corpus-sized caches for the life of the session; a
      * long-lived session calling per batch should use
      * [[Dedup.minhashDupPairsCappedManaged]] and `close()` the handle
      * (same for [[incrementalPairs]] /
      * [[Dedup.incrementalDupPairsCappedManaged]]). */
    def nearPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
        rowsPerBand: Int = 2, threshold: Double = 0.5,
        maxBucket: Int = 64): DataFrame =
      Dedup.minhashDupPairsCapped(docs, n, numHashes, rowsPerBand,
        threshold, maxBucket)

    /** Fresh-batch-vs-corpus near-dup pairs —
      * [[Dedup.incrementalDupPairsCapped]]. */
    def incrementalPairs(corpus: DataFrame, batch: DataFrame,
        threshold: Double = 0.5, maxBucket: Int = 64): DataFrame =
      Dedup.incrementalDupPairsCapped(corpus, batch, threshold = threshold,
        maxBucket = maxBucket)

    /** Pairs → connected components (v, comp) — [[Dedup.dupComponents]];
      * the min-id member of each component is the survivor. */
    def components(pairs: DataFrame): DataFrame =
      Dedup.dupComponents(pairs)

    /** Pairs → survivor groups with member lists — [[Dedup.dupGroups]]. */
    def groups(pairs: DataFrame): DataFrame = Dedup.dupGroups(pairs)

    /** Build the persisted signature index (bands + shingles, bucketed) —
      * [[DedupIndex.writeSignatureIndex]]. */
    def buildIndex(docs: DataFrame, path: String): Unit =
      DedupIndex.writeSignatureIndex(docs, path)

    /** Probe a batch against the persisted index (pruned reads,
      * hot-bucket-capped — the 100 TB-safe default; use
      * [[DedupIndex.probeIndex]] directly for the uncapped variant) —
      * [[DedupIndex.probeIndexCapped]]. */
    def probeIndex(spark: SparkSession, path: String,
        batch: DataFrame): DataFrame =
      DedupIndex.probeIndexCapped(spark, path, batch)

    /** Probe + fold a batch into the index (the streaming ingest step) —
      * [[DedupIndex.ingestBatch]]. */
    def ingestBatch(spark: SparkSession, path: String,
        batch: DataFrame): DataFrame =
      DedupIndex.ingestBatch(spark, path, batch)
  }

  /** Persisted index builders/maintainers (K5, X-families): every family
    * is bucketed-partition parquet written through one protocol
    * ([[BucketedIndex]]: config pins, merge-on-read upserts published by
    * a commit marker, exclusive version claims). */
  object index {
    /** Sign-bit LSH vector index — [[LshIndex.writeLshIndex]] /
      * [[LshIndex.upsertLshIndex]]. */
    def buildLsh(vecs: DataFrame, embCol: String, idCol: String,
        planes: Array[Array[Double]], path: String): Unit =
      LshIndex.writeLshIndex(vecs, embCol, idCol, planes, path)

    def upsertLsh(batch: DataFrame, embCol: String, idCol: String,
        planes: Array[Array[Double]], path: String): Unit =
      LshIndex.upsertLshIndex(batch, embCol, idCol, planes, path)

    /** Multi-table OR-amplified LSH — [[LshIndex.writeMultiLshIndex]]. */
    def buildMultiLsh(vecs: DataFrame, embCol: String, idCol: String,
        planeSets: Seq[Array[Array[Double]]], path: String): Unit =
      LshIndex.writeMultiLshIndex(vecs, embCol, idCol, planeSets, path)

    /** IVF index under trained centroids — [[Similarity.writeIvfIndex]];
      * train centroids with [[Similarity.ivfCentroids]]. */
    def buildIvf(vecs: DataFrame, embCol: String, idCol: String,
        cents: Array[Array[Double]], path: String): Unit =
      Similarity.writeIvfIndex(vecs, embCol, idCol, cents, path)

    /** IVF-PQ (codes + refine tables) — [[IvfPq.writeIvfPqIndex]]. */
    def buildIvfPq(vecs: DataFrame, embCol: String, idCol: String,
        cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
        path: String): Unit =
      IvfPq.writeIvfPqIndex(vecs, embCol, idCol, cents, books, path)

    /** Full-text postings index — [[Fts.writePostingsIndex]] over
      * [[Fts.positionalPostings]], with the id check every other build
      * runs: the postings kernel emits per-ROW postings, so a corpus
      * carrying the same doc id twice would put duplicate (word, doc)
      * entries in the index and silently drop matching docs from
      * conjunctive/phrase results (their per-doc term counts overshoot) —
      * it fails loudly before any write instead. */
    def buildFts(docs: DataFrame, docIdCol: String, textCol: String,
        path: String): Unit =
      Fts.writeDocsIndex(docs, docIdCol, textCol, path)

    /** Random hyperplanes for the LSH families —
      * [[Similarity.hyperplanes]]. */
    def hyperplanes(dim: Int, numPlanes: Int,
        seed: Long = 42L): Array[Array[Double]] =
      Similarity.hyperplanes(dim, numPlanes, seed)
  }

  /** Retrieval (L2, T1, L13): exact and index-served top-k, lexical
    * ranking, hybrid fusion. */
  object retrieve {
    /** Brute-force cosine top-k (the exactness baseline) over an
      * in-memory frame — [[Similarity.annTopK]] with every bucket probed
      * is the index-free path; this is the direct ranking. */
    def knnExact(vecs: DataFrame, embCol: String, idCol: String,
        query: Array[Float], k: Int): DataFrame = {
      import org.apache.spark.sql.functions._
      val qv = array(query.map(lit): _*)
      vecs.select(col(idCol),
          round(graft.functions.CosineSimilarity(col(embCol), qv), 4)
            .as("sim"))
        .orderBy(col("sim").desc, col(idCol)).limit(k)
    }

    /** Pruned probe of a persisted LSH index —
      * [[LshIndex.probeLshIndex]]. */
    def knnLsh(spark: SparkSession, path: String, embCol: String,
        idCol: String, query: Array[Float], k: Int,
        planes: Array[Array[Double]], radius: Int = 1): DataFrame =
      LshIndex.probeLshIndex(spark, path, embCol, idCol, query, k, planes,
        radius)

    /** Pruned probe of a persisted IVF index — [[Similarity.probeLists]]
      * picks the nProbe nearest lists, [[Similarity.probeIvfIndex]] reads
      * only those partitions. */
    def knnIvf(spark: SparkSession, path: String, embCol: String,
        idCol: String, query: Array[Float], k: Int,
        cents: Array[Array[Double]], nProbe: Int = 4): DataFrame =
      Similarity.probeIvfIndex(spark, path, embCol, idCol, query, k,
        Similarity.probeLists(query, cents, nProbe))

    /** BM25 ranking for a term query — [[Fts.bm25Scores]] over postings
      * + doc lengths. */
    def bm25(postings: DataFrame, docLens: DataFrame,
        terms: Seq[String]): DataFrame =
      Fts.bm25Scores(postings, docLens, terms)

    /** Reciprocal-rank fusion of ranked legs (lexical + vector) —
      * [[Hybrid.rrfFuse]]. */
    def fuse(legs: Seq[(String, DataFrame)], idCol: String): DataFrame =
      Hybrid.rrfFuse(legs, idCol)
  }

  /** Corpus curation (X-families): contamination, packing, splits,
    * span-level scrubbing, trained quality filters. */
  object curate {
    /** Eval-contamination counts by n-gram overlap —
      * [[Curation.contaminationCounts]]. `broadcastEval = false` for a
      * corpus-sized eval side (the default hint assumes a fixed benchmark
      * suite, bounded by construction). */
    def contamination(train: DataFrame, eval: DataFrame, n: Int = 5,
        broadcastEval: Boolean = true): DataFrame =
      Curation.contaminationCounts(train, eval, n, broadcastEval)

    /** Deterministic serpentine bin packing into near-equal-token output
      * shards (the dataloader-file assignment) —
      * [[Curation.balancedShards]]. Pins the rank cache for the session;
      * a long-lived session calling per batch should use
      * [[Curation.balancedShardsManaged]] and `close()` the handle. */
    def shards(docs: DataFrame, nShards: Int): DataFrame =
      Curation.balancedShards(docs, nShards)

    /** Materialize a mixing plan as fractional-epoch doc replication —
      * [[Curation.epochExpand]] over [[Curation.epochPlan]]'s
      * token-equalizing per-source repeat factors (capped in basis
      * points; 10000 = one epoch). */
    def epochs(docs: DataFrame, capBp: Long = 40000L): DataFrame =
      Curation.epochExpand(docs, Curation.epochPlan(docs, capBp))

    /** Greedy first-fit sequence packing — [[Curation.packSequences]]. */
    def pack(docs: DataFrame, capacity: Int): DataFrame =
      Curation.packSequences(docs, capacity)

    /** Leakage-safe deterministic train/val/test split label —
      * [[Curation.groupSplit]]. */
    def split(groupKey: Column, trainPct: Int = 80,
        valPct: Int = 10): Column =
      Curation.groupSplit(groupKey, trainPct, valPct)

    /** Sliding-window chunking (embedding prep) — [[Curation.chunk]]. */
    def chunk(docs: DataFrame, size: Int = 64, stride: Int = 48): DataFrame =
      Curation.chunk(docs, size, stride)

    /** Cross-doc duplicated-span excision —
      * [[Curation.scrubDuplicatedSpans]]. */
    def scrubSpans(docs: DataFrame, n: Int = 5): DataFrame =
      Curation.scrubDuplicatedSpans(docs, n)
  }

  /** Full-text search (L13, q127–q132): postings construction, boolean /
    * phrase queries, BM25 ranking, and the persisted term-bucketed
    * postings index. Build the persisted index with [[index.buildFts]];
    * probe-side loads prune to the query terms' buckets. */
  object fts {
    /** Positional postings (term, doc, positions) from a doc table —
      * [[Fts.positionalPostings]]. */
    def postings(docs: DataFrame, docIdCol: String = "doc_id",
        textCol: String = "text"): DataFrame =
      Fts.positionalPostings(docs, docIdCol, textCol)

    /** Per-doc token lengths (BM25's denominator side) —
      * [[Fts.docLengths]]. */
    def docLengths(docs: DataFrame, docIdCol: String = "doc_id",
        textCol: String = "text"): DataFrame =
      Fts.docLengths(docs, docIdCol, textCol)

    /** Conjunctive (AND) term query — [[Fts.conjunctiveQuery]]. */
    def and(postings: DataFrame, terms: Seq[String]): DataFrame =
      Fts.conjunctiveQuery(postings, terms)

    /** Exact phrase query via positional adjacency —
      * [[Fts.phraseQuery]]. */
    def phrase(postings: DataFrame, words: Seq[String]): DataFrame =
      Fts.phraseQuery(postings, words)

    /** BM25 ranking for a term query — [[Fts.bm25Scores]] (also surfaced
      * as [[retrieve.bm25]]; this is the FTS-local spelling). */
    def bm25(postings: DataFrame, docLens: DataFrame,
        terms: Seq[String]): DataFrame =
      Fts.bm25Scores(postings, docLens, terms)

    /** Fold a fresh doc batch into the persisted postings index
      * (bucket-routed partition overwrite) —
      * [[Fts.upsertPostingsIndex]]. */
    def upsertIndex(newDocs: DataFrame, path: String,
        docIdCol: String = "doc_id", textCol: String = "text"): Unit =
      Fts.upsertPostingsIndex(newDocs, path, docIdCol, textCol)

    /** Load a persisted index pruned to `terms`' buckets —
      * [[Fts.loadPostings]]. */
    def load(spark: SparkSession, path: String,
        terms: Seq[String]): DataFrame =
      Fts.loadPostings(spark, path, terms)
  }

  /** Structured Streaming (ST1–ST7): the events stream transforms, the
    * stateful sessionizer, stream joins, and the checkpointed
    * index-maintenance drain every persisted family reuses. */
  object stream {
    /** Streaming read of an events parquet directory (nanos→micros
      * normalized like the batch reader) —
      * [[graft.streaming.EventsStream.readEventsDir]]. */
    def events(spark: SparkSession, dir: String): DataFrame =
      graft.streaming.EventsStream.readEventsDir(spark, dir)

    /** Watermarked exactly-once-per-key dedup —
      * [[graft.streaming.EventsStream.dedup]]. */
    def dedup(events: DataFrame, watermark: String = "1 day"): DataFrame =
      graft.streaming.EventsStream.dedup(events, watermark)

    /** Watermarked hourly tumbling-window counts —
      * [[graft.streaming.EventsStream.hourlyCounts]]. */
    def hourly(events: DataFrame, watermark: String = "1 day"): DataFrame =
      graft.streaming.EventsStream.hourlyCounts(events, watermark)

    /** Stateful session fold (flatMapGroupsWithState) —
      * [[graft.streaming.SessionStream.sessions]]. */
    def sessions(spark: SparkSession, events: DataFrame): org.apache.spark
        .sql.Dataset[graft.streaming.SessionStream.SessionOut] =
      graft.streaming.SessionStream.sessions(spark, events)

    /** Stream-stream view→purchase attribution join —
      * [[graft.streaming.StreamJoins.viewPurchaseAttribution]]. */
    def attribution(views: DataFrame, purchases: DataFrame): DataFrame =
      graft.streaming.StreamJoins.viewPurchaseAttribution(views, purchases)

    /** Drain batch slices through a checkpointed micro-batch stream into
      * a per-family index fold (the maintenance loop behind
      * q145/q154/q160/q171) — [[graft.streaming.IngestHarness.drain]]. */
    def ingest(spark: SparkSession, base: java.nio.file.Path,
        slices: Seq[DataFrame],
        fold: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row] => Unit)
        : Unit =
      graft.streaming.IngestHarness.drain(spark, base, slices, fold)

    /** Run a bounded stream to parquet with idempotent per-batch writes —
      * [[graft.streaming.EventsStream.runToParquet]]. */
    def toParquet(streaming: DataFrame, path: String): Unit =
      graft.streaming.EventsStream.runToParquet(streaming, path)
  }

  /** Text scalar helpers (F-functions, §2.8): codegen-friendly Column
    * expressions, no UDFs. */
  object text {
    /** Whitespace token count — [[TextFunctions.tokenCount]]. */
    def tokenCount(text: Column): Column = TextFunctions.tokenCount(text)

    /** Distinct word-n-gram shingle set — [[TextFunctions.shingleSet]]. */
    def shingleSet(text: Column, n: Int = 3): Column =
      TextFunctions.shingleSet(text, n)

    /** Set Jaccard similarity — [[TextFunctions.jaccard]]. */
    def jaccard(a: Column, b: Column): Column = TextFunctions.jaccard(a, b)

    /** Exact content fingerprint — [[TextFunctions.contentFingerprint]]. */
    def fingerprint(text: Column): Column =
      TextFunctions.contentFingerprint(text)

    /** Stopword-profile language ID — [[LangId.predict]]. */
    def langId(text: Column): Column = LangId.predict(text)
  }
}
