package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text-search query surface over the inverted postings index
  * (SURVEY §2.9 L13's query half — the reference's Chroma store maintains
  * FTS tables `embedding_fulltext_search*` in `scripts/vector_db/
  * chroma.sqlite3`; q46 builds the index, these operators QUERY it).
  *
  * The index is positional: one row per (term, doc) carrying tf and the
  * sorted in-doc positions. At 100 TB the postings table is written
  * bucketed by term, so a query's `word IN (...)` prunes to the queried
  * terms' buckets and every operator below touches only posting rows for
  * the query terms — never the corpus. All aggregations are keyed by
  * doc_id (map-side combinable; no global sort, no driver collect).
  */
object Fts {

  /** Build the positional postings index: doc text → one row per
    * (word, doc_id) with term frequency and sorted 0-based positions.
    * Tokenization matches [[graft.functions.TextFunctions.words]]
    * (single-space split) so index-backed scores equal text-scan scores.
    *
    * NO shuffle (r12): a document's text lives in ONE row, so the
    * per-(word, doc) groups are computable inside that row — the
    * [[graft.functions.WordPostings]] kernel emits the (word, tf,
    * positions) structs in one byte-level pass and this method just
    * explodes them. The previous `posexplode → groupBy(word, doc_id)`
    * form paid a full corpus exchange that merged nothing (every
    * (word, doc) group already sat complete in one map partition); at the
    * ×10 gate that exchange was the dominant stage of every inline FTS
    * query (q127/q128/q129). Row-set, schema, and shuffle-free-plan
    * equality with the composed form is pinned in FtsSpec ("native
    * per-doc postings kernel equals the composed posexplode+groupBy
    * build").
    *
    * PRECONDITION (now load-bearing, was silent): `docIdCol` is unique —
    * a corpus frame carries one row per document. The old groupBy would
    * have MERGED duplicate doc rows' positions (silently double-counting
    * tf, exactly what [[upsertPostingsIndex]]'s requireUniqueIds guard
    * exists to reject); the per-row kernel would instead emit duplicate
    * (word, doc) postings. Every caller passes a corpus keyed by doc id. */
  def positionalPostings(docs: DataFrame, docIdCol: String,
      textCol: String): DataFrame =
    docs.select(col(docIdCol).as("doc_id"),
        explode(graft.functions.WordPostings(col(textCol))).as("p"))
      .select(col("p.word").as("word"), col("doc_id"),
        col("p.tf").as("tf"), col("p.positions").as("positions"))

  /** Per-document token counts (the other half a lexical scorer needs —
    * index-resident, so scoring never re-reads text). */
  def docLengths(docs: DataFrame, docIdCol: String,
      textCol: String): DataFrame =
    docs.select(col(docIdCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("doc_len"))

  /** Conjunctive (AND) query: documents containing EVERY term, with the
    * summed term frequency as a match-strength score. Postings are unique
    * per (word, doc), so `count == n distinct terms` is the containment
    * test — one keyed aggregation over only the queried terms' postings. */
  def conjunctiveQuery(postings: DataFrame, terms: Seq[String]): DataFrame = {
    val distinctTerms = terms.distinct
    postings.filter(col("word").isin(distinctTerms: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === distinctTerms.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** Phrase query: documents where the words occur at consecutive
    * positions, with the occurrence count. Each phrase slot's positions
    * are shifted left by the slot index, so an occurrence is a position
    * present in EVERY slot's shifted set — computed per document as one
    * array_intersect fold over the (phrase-length-bounded) collected
    * arrays. Duplicate words in the phrase are handled by keying on slot,
    * not word. One broadcast join + one keyed aggregation. */
  def phraseQuery(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    val spark = postings.sparkSession
    import spark.implicits._
    val slots = phrase.zipWithIndex.toDF("word", "slot")
    // the explicit isin pre-filter is REDUNDANT with the inner slots join
    // but load-bearing: a join cannot push its implied word restriction
    // through the postings AGGREGATION to the scan, a filter can — with
    // only the join, a phrase query over freshly-built postings aggregated
    // the WHOLE corpus first (×100 yardstick: 79 s vs 1.2 s DuckDB; the
    // conjunctive and BM25 paths always filtered, this path is now
    // aligned). Over a persisted index the same predicate is what prunes
    // term buckets at the file index.
    postings.filter(col("word").isin(phrase.distinct: _*))
      .join(broadcast(slots), "word")
      .select(col("doc_id"),
        transform(col("positions"), p => p - col("slot")).as("shifted"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_slots"),
        collect_list(col("shifted")).as("slot_positions"))
      .filter(col("n_slots") === phrase.length)
      .select(col("doc_id"),
        size(aggregate(
          slice(col("slot_positions"), 2, phrase.length - 1),
          element_at(col("slot_positions"), 1),
          (acc, a) => array_intersect(acc, a))).cast("long").as("n_matches"))
      .filter(col("n_matches") >= 1)
  }

  /** BM25 ranking over the postings index — the standard lexical relevance
    * function (Robertson/Sparck Jones; Lucene's idf form
    * ln((N - df + 0.5)/(df + 0.5) + 1)). Everything comes from the index:
    * df per term (a 1-row broadcast aggregate over the pivot), N and avgdl
    * (one 1-row broadcast aggregate), tf and doc_len per posting. The
    * per-document total adds the per-term scores in FIXED (sorted-term)
    * order, so the double sum is deterministic and cross-engine
    * reproducible. Touches only the queried terms' postings — at 100 TB,
    * term-bucket pruning makes query cost ∝ posting lists, not corpus.
    *
    * Single-consumption pivot shape (r13): the hits are aggregated ONCE
    * into a per-doc pivot (one tf column per sorted term — postings are
    * unique per (word, doc), so `sum(when(word===t, tf))` is exactly that
    * posting's tf, or null where the doc lacks the term). Both downstream
    * needs come off the PIVOT, not the hits: df per term = the count of
    * non-null pivot cells in that term's column, and the per-term score is
    * computed directly from the pivot row (null tf → null score →
    * coalesce 0.0, the same per-term contribution the r12 sum(when(word
    * === t, score)) form produced, since sum over the single (word,doc)
    * row is that row's score exactly). The r12 form consumed the hits
    * TWICE (df aggregate + scoring branch); with the shuffle-free postings
    * build there was no build exchange for ReuseExchange to unify, so an
    * inline-built q129 re-derived the corpus postings per branch (~30 % of
    * its corpus-×1000 wall — the r12 "next lever"). Here the two branches
    * share the pivot's exchange: the partial aggregate below it is
    * identical for both consumers (df needs every tf column; the grouping
    * key rides the exchange for both), so ReuseExchange CAN unify them —
    * exactly the column-pruning asymmetry that blocked it in the r12 shape
    * removed by construction. One WordPostings pass, plan-asserted in
    * FtsSpec and visible in plans/r13/q129_bm25_rank_after.txt.
    *
    * Score algebra unchanged, bit for bit: per (doc, term) the expression
    * tree log((n_docs − df + 0.5)/(df + 0.5) + 1) · (tf·(k1+1)) /
    * (tf + k1·(1−b + b·doc_len/avgdl)) is reproduced with the same
    * association and the same operand types (tf LongType, df LongType,
    * n_docs/avgdl the same 1-row aggregate), and the per-doc fold is the
    * same left-to-right coalesce sum in sorted-term order — IEEE doubles
    * through identical operation sequences are identical. The oracle's
    * fixed-order fold (q129Sql/q148Sql) gates this per round. */
  def bm25Scores(postings: DataFrame, docLens: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ts = terms.distinct.sorted
    // the explicit isNotNull is REUSE-load-bearing, not semantic (doc ids
    // are non-null by the index contract): the doc-length join INFERS
    // isnotnull(doc_id) into the scoring branch's scan; without the same
    // predicate on the df branch the two pivot subtrees canonicalize
    // differently and the exchange cannot be shared
    val hits = postings.filter(
      col("doc_id").isNotNull && col("word").isin(ts: _*))
    val perTermTf = ts.zipWithIndex.map { case (t, i) =>
      sum(when(col("word") === t, col("tf"))).as(s"__tf$i")
    }
    // map-side combinable (partial agg BELOW the exchange): the shuffle
    // carries per-doc partials, not raw hit rows — the r12 repartition
    // shipped every hit row and is subsumed by this aggregate's exchange
    val pivoted = hits.groupBy(col("doc_id"))
      .agg(perTermTf.head, perTermTf.tail: _*)
    val dfAggs = ts.indices.map(i => count(col(s"__tf$i")).as(s"__df$i"))
    val dfRow = pivoted.agg(dfAggs.head, dfAggs.tail: _*)
    // count/avg over integral doc_len are exact (long sum, then divide):
    // avgdl is deterministic, not a float-order accident
    val stats = docLens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("doc_len")).as("avgdl"))
    val perTermScore = ts.indices.map { i =>
      val tf = col(s"__tf$i")
      val dfc = col(s"__df$i")
      coalesce(
        log((col("n_docs") - dfc + 0.5) / (dfc + 0.5) + 1) *
          (tf * (k1 + 1)) /
          (tf +
            lit(k1) * (lit(1 - b) + lit(b) * col("doc_len") / col("avgdl"))),
        lit(0.0))
    }
    val total = perTermScore.reduce(_ + _)
    pivoted.join(docLens, "doc_id")
      .crossJoin(broadcast(dfRow))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), total.as("bm25"))
  }

  /** Bucket id of a column under the index's hash scheme (one definition —
    * the write and upsert paths must NEVER disagree on bucket assignment). */
  private def bucketCol(c: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(c), lit(n))

  // the pin holds nBuckets: a caller passing a different count than the
  // index was BUILT with would compute wrong bucket ids and silently
  // prune to the wrong partitions
  private[graft] def index(path: String) = BucketedIndex("fts", path, path,
    Seq("wb"), path + "_meta", "writePostingsIndex", "bucket geometry",
    configFirst = true)

  /** A batch's rows: postings bucketed by term. `docs` (doc_id, text) is
    * the id-keyed batch the write validates and tombstones, None for
    * pre-built postings. */
  private def ftsWrite(docs: Option[DataFrame], postings: DataFrame,
      nBuckets: Int): BucketedIndex.Write =
    BucketedIndex.Write(Map("nBuckets" -> nBuckets.toString), "doc_id", docs,
      main = postings.withColumn("wb", bucketCol(col("word"), nBuckets)))

  /** Deployed-index form: persist the postings partitioned by a hash
    * bucket of the term, so a query's `word IN (...)` reads only its
    * terms' bucket directories — partition pruning at the file index,
    * before any data is read. With B buckets a Q-term query scans ≤ Q/B
    * of the index regardless of corpus size; bucket count trades
    * directory fan-out against pruning ratio. Postings are not keyed by
    * doc, so this build cannot reject duplicate docs —
    * [[graft.api.Graft.index.buildFts]] builds from a doc frame and does. */
  def writePostingsIndex(postings: DataFrame, path: String,
      nBuckets: Int = 64): Unit =
    index(path).build(ftsWrite(None, postings, nBuckets))

  /** [[writePostingsIndex]] over `docs`' postings, rejecting a duplicate
    * doc id before any write. */
  private[graft] def writeDocsIndex(docs: DataFrame, docIdCol: String,
      textCol: String, path: String, nBuckets: Int = 64): Unit =
    index(path).build(docsWrite(docs, docIdCol, textCol, nBuckets))

  private def docsWrite(docs: DataFrame, docIdCol: String, textCol: String,
      nBuckets: Int): BucketedIndex.Write = {
    val keyed = docs.select(col(docIdCol).as("doc_id"), col(textCol))
    ftsWrite(Some(keyed), positionalPostings(keyed, "doc_id", textCol),
      nBuckets)
  }

  /** Incremental index maintenance — fold a (re-)crawled document batch
    * into a persisted postings index ([[BucketedIndex.upsert]] with term
    * buckets as the main partitions). A re-crawled doc's OLD postings
    * live in the buckets of its OLD terms, which the new text doesn't
    * reveal; the batch's doc-id tombstones retire them wherever they are.
    * Per-batch cost is the batch's own postings, never the index size.
    * Drive it from `foreachBatch` for a streaming crawl feed. */
  def upsertPostingsIndex(newDocs: DataFrame, path: String, docIdCol: String,
      textCol: String, nBuckets: Int = 64): Unit =
    index(path).upsert(docsWrite(newDocs, docIdCol, textCol, nBuckets))

  /** Read back only the buckets the query terms hash into, through the
    * index's reader ([[BucketedIndex.read]]: committed postings of live
    * docs). The returned frame still carries every posting in those
    * buckets; the word filter itself is pushed to the scan as a data
    * filter on top of the partition prune, so every Fts query operator
    * composes unchanged. An index without a pin, or built under another
    * `nBuckets`, is refused by name. */
  def loadPostings(spark: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String], nBuckets: Int = 64): DataFrame = {
    index(path).requirePin(spark, Map("nBuckets" -> nBuckets.toString))
    // bucket ids computed driver-side with the SAME hash the write used
    // (functions.xxhash64 == XxHash64 expression, seed 42) — no job, no
    // collect, just Q literal evaluations
    val buckets = terms.distinct.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType)), 42L)
        .eval(null).asInstanceOf[Long]
      ((h % nBuckets) + nBuckets) % nBuckets
    }.distinct
    index(path).read(spark)
      .filter(col("wb").isInCollection(buckets))
      .drop("wb")
  }

  /** Index-backed lexical score: sum of the query terms' tf over the doc
    * length — exactly `|tokens ∈ terms| / |tokens|`, but computed from the
    * postings + doc-length tables instead of re-scanning text (the 100 TB
    * shape: the corpus is tokenized once at index-build; queries read only
    * the matching postings). Docs with no hits keep score 0 via the
    * left join. */
  def lexicalScores(postings: DataFrame, docLens: DataFrame,
      terms: Seq[String]): DataFrame = {
    val hits = postings.filter(col("word").isin(terms.distinct: _*))
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("hit_tf"))
    docLens.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("hit_tf"), lit(0L)).cast("double") /
          col("doc_len")).as("lex"))
  }
}
