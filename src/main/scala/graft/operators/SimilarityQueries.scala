package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorFunctions._
import graft.llm.{EmbedOps, FeatureHashEmbedder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search operator inventory over the `embeddings` corpus
  * (SURVEY.md §2.9 L1/L2 + north-star ANN). Brute-force cosine top-k plans
  * as scan → project → TakeOrderedAndProject: per-partition k-heaps, k-row
  * driver merge — no global sort, so it scales linearly with executors.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Trained model constants (IVF centroids, PQ codebooks) are
    * DETERMINISTIC per (dataset dir, config) — seedless init from the
    * lowest-id rows, fixed iteration counts — so queries sharing the
    * standard full-corpus configuration memoize them instead of
    * re-running the 20-odd training jobs per query (a Verify pass hits
    * these 9 times; ~40 s of identical work). Keyed by the dir string:
    * a different SF dir trains fresh. Queries training on a SUBSET
    * (q146's half-corpus centroids) bypass the cache by construction. */
  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[String, AnyRef]

  private def fullCents(s: SparkSession, d: String): Array[Array[Double]] =
    modelCache.getOrElseUpdate(s"cents:$d:8:2",
      Similarity.ivfCentroids(emb(s, d), "embedding", "vec_id", 8, 2))
      .asInstanceOf[Array[Array[Double]]]

  private def fullBooks(s: SparkSession,
      d: String): Array[Array[Array[Double]]] =
    modelCache.getOrElseUpdate(s"books:$d:8:16",
      Pq.trainCodebooks(emb(s, d), "embedding", "vec_id", m = 8, k = 16))
      .asInstanceOf[Array[Array[Array[Double]]]]

  /** q40: exact cosine top-12 neighbors of vec_id=0 (reference operator L2:
    * Chroma `collection.query(n_results=k)` re-expressed as a declarative
    * top-k; the query vector joins in as a broadcast single row, not a
    * driver-side collect). */
  private def q40(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), col("qe")), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(12)
  }

  private val q40Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |s AS (SELECT vec_id,
      |    list_sum(list_transform(list_zip(embedding, qe),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
      |    sqrt(list_sum(list_transform(qe,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
      |  FROM embeddings, q)
      |SELECT vec_id, round(dot / (na * nb), 4) AS sim
      |FROM s ORDER BY sim DESC, vec_id LIMIT 12""".stripMargin

  /** q41: per-label centroid norms — posexplode → per-dimension mean →
    * re-aggregate; the distributed "cluster summary" shape. */
  private def q41(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v").cast("double")).as("m"))
      .groupBy(col("label"))
      .agg(round(sqrt(sum(col("m") * col("m"))), 4).as("centroid_norm"))

  private val q41Sql =
    """SELECT label, round(sqrt(sum(m * m)), 4) AS centroid_norm
      |FROM (SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS m
      |      FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2)
      |GROUP BY label""".stripMargin

  /** q42: batched feature-hash embedding of the documents corpus (L1) —
    * mapPartitions batching over the ENGINE hash (xxhash64-family, the
    * scale configuration; q72 value-pins the identical pipeline on the
    * portable hash). The hash isn't reproducible in DuckDB, so the oracle
    * checks the embedder's per-row CONTRACT instead: one output row per
    * document (the batching drops/duplicates nothing), fixed dim 64, and
    * unit L2 norm (the embedder normalizes; a zero vector — no tokens, or
    * total cancellation — is the documented exception). A wrong dim,
    * non-normalized output, or lost row fails rows/hash. */
  private def q42(s: SparkSession, d: String): DataFrame = {
    val embedded = EmbedOps.embedText(
      docs(s, d).select(col("doc_id"), col("text")),
      "text", "embedding", new FeatureHashEmbedder(64))
    val n = l2Norm(col("embedding"))
    embedded.select(col("doc_id"),
      size(col("embedding")).as("dim"),
      (abs(n - 1.0) < 0.01 || n < 0.01).as("norm_ok"))
  }

  private val q42Sql =
    """SELECT doc_id, CAST(64 AS INTEGER) AS dim, TRUE AS norm_ok
      |FROM documents""".stripMargin

  /** q43: RAG retrieval (reference §3.2: embed query → top-k → "\n\n"-joined
    * context, pipeline.py:104-124): deterministic embedder + cosine top-3
    * over embedded documents + ordered concat assembly. WHICH docs rank
    * top-3 depends on the engine hash (q73 value-pins the ranking on the
    * portable hash), so the oracle checks the assembly CONTRACT: exactly
    * k=3 docs retrieved, the context splits back into exactly 3 segments
    * (the "\n\n" joiner), and every segment is verbatim a corpus document
    * (n_matched counts segments that equal some document's text — the
    * corpus has no duplicate texts, so a fabricated/truncated segment
    * drops the count). */
  private def q43(s: SparkSession, d: String): DataFrame = {
    val embedder = new FeatureHashEmbedder(64)
    val qvec = embedder.embed("shuffle join performance")
    val embedded = EmbedOps.embedText(
      docs(s, d).select(col("doc_id"), col("text")),
      "text", "embedding", embedder)
    val top = embedded
      .select(col("doc_id"), col("text"),
        cosineSim(col("embedding"),
          array(qvec.map(v => lit(v)): _*)).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(3)
    // pin the ONE assembled row before branching — ctx feeds both the
    // segment-verification branch and the final projection, and Spark
    // would otherwise execute the whole embed+top-k subtree twice
    val ctx = top.agg(
      count(lit(1)).as("k"),
      concat_ws("\n\n", collect_list(col("text"))).as("context"))
      .localCheckpoint(true)
    val segs = ctx.select(explode(split(col("context"), "\n\n")).as("seg"))
    val matched = segs.join(docs(s, d),
        segs("seg") === col("text"), "left_semi")
      .agg(count(lit(1)).as("n_matched"))
    ctx.select(col("k"),
        size(split(col("context"), "\n\n")).cast("long").as("n_segments"))
      .crossJoin(matched)
  }

  private val q43Sql =
    """SELECT LEAST(count(*), 3) AS k, LEAST(count(*), 3) AS n_segments,
      |  LEAST(count(*), 3) AS n_matched
      |FROM documents""".stripMargin

  /** q62: IVF-ANN top-10 in its exact configuration (nProbe == nLists ⇒
    * every list probed ⇒ identical to brute force, so the DuckDB oracle
    * checks the whole IVF path: k-means train, list assignment, probe
    * ranking, in-list exact cosine). Recall at nProbe < nLists is covered by
    * IvfSpec. */
  /** q146: persisted IVF index UPSERT round trip — build on the even
    * vec_ids (centroids trained on that half alone), upsert the odd
    * half against the pinned centroids, probe every list. nProbe == nLists
    * makes the result brute-force-exact regardless of centroid quality
    * (the q62 trick), so the SAME oracle proves the upserted vectors are
    * probe-visible in their assigned lists (disjoint ids ⇒ the merge
    * degenerates to a pure append). */
  private def q146(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qvec = e.filter(col("vec_id") === 1)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val v1 = e.filter(col("vec_id") % 2 === 0)
    val cents = Similarity.ivfCentroids(v1, "embedding", "vec_id", 8, 2)
    val path = graft.TempDirs.scratchAtExit("ivf_upsert")
      .resolve("idx").toString
    Similarity.writeIvfIndex(v1, "embedding", "vec_id", cents, path)
    Similarity.upsertIvfIndex(e.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", cents, path)
    Similarity.probeIvfIndex(s, path, "embedding", "vec_id", qvec, 10,
      0 until 8)
  }

  /** q147: IVF RE-CRAWL upsert — the stale-vector kill path. Crawl 1
    * indexes the even vec_ids with PERTURBED (reversed) embeddings plus
    * the odd half as-is; crawl 2 re-crawls the even ids with their true
    * embeddings, so most of them MOVE lists and their stale vectors must
    * leave the index ([[Similarity.upsertIvfIndex]]'s anti-join +
    * delete-vacated ordering; Chroma's delete-then-add upsert,
    * scrape_store_embed.py:79-86). The query returns sim-to-query for
    * EVERY stored vector (no top-k), so the oracle — brute cosine over
    * the true embeddings table — fails on any stale survivor (extra row)
    * or missed upsert (wrong sim), not just on top-k perturbations. */
  private def q147(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qvec = e.filter(col("vec_id") === 1)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val cents = fullCents(s, d)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val crawl1 = evens.withColumn("embedding", reverse(col("embedding")))
      .unionByName(e.filter(col("vec_id") % 2 === 1))
    val path = graft.TempDirs.scratchAtExit("ivf_recrawl")
      .resolve("idx").toString
    Similarity.writeIvfIndex(crawl1, "embedding", "vec_id", cents, path)
    Similarity.upsertIvfIndex(evens, "embedding", "vec_id", cents, path)
    val qv = array(qvec.map(lit): _*)
    Similarity.ivfIndex(path).read(s)
      .select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), qv), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
  }

  private val q147Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
      |s AS (SELECT vec_id,
      |    list_sum(list_transform(list_zip(embedding, qe),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
      |    sqrt(list_sum(list_transform(qe,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
      |  FROM embeddings, q)
      |SELECT vec_id, round(dot / (na * nb), 4) AS sim
      |FROM s ORDER BY sim DESC, vec_id""".stripMargin

  private def q62(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qvec = e.filter(col("vec_id") === 1)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val cents = fullCents(s, d)
    Similarity.ivfTopK(e, "embedding", "vec_id", qvec, 10, cents, nProbe = 8)
  }

  private val q62Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
      |s AS (SELECT vec_id,
      |    list_sum(list_transform(list_zip(embedding, qe),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
      |    sqrt(list_sum(list_transform(qe,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
      |  FROM embeddings, q)
      |SELECT vec_id, round(dot / (na * nb), 4) AS sim
      |FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** q66: the SQL surface end-to-end — the session-injected native
    * expressions (`cosine_sim`, `word_ngrams`, registered by
    * GraftExtensions via spark.sql.extensions) used from spark.sql text,
    * oracle-checked. Covers: extension injection, SQL function resolution,
    * and the same math as the DataFrame path. */
  private def q66(s: SparkSession, d: String): DataFrame = {
    emb(s, d).createOrReplaceTempView("emb_sql")
    docs(s, d).createOrReplaceTempView("docs_sql")
    s.sql(
      """SELECT d.doc_id,
        |  size(word_ngrams(d.text, 3)) AS n_shingles,
        |  round(cosine_sim(e.embedding, q.qe), 4) AS sim
        |FROM docs_sql d
        |JOIN emb_sql e ON d.doc_id = e.vec_id
        |CROSS JOIN (SELECT embedding AS qe FROM emb_sql WHERE vec_id = 0) q
        |WHERE d.doc_id < 20""".stripMargin)
  }

  private val q66Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT d.doc_id,
      |  CASE WHEN len(string_split(d.text, ' ')) >= 3
      |       THEN len(string_split(d.text, ' ')) - 2 ELSE 0 END AS n_shingles,
      |  round(list_sum(list_transform(list_zip(e.embedding, q.qe),
      |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |        / (sqrt(list_sum(list_transform(e.embedding,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |           * sqrt(list_sum(list_transform(q.qe,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN q
      |WHERE d.doc_id < 20""".stripMargin

  /** DuckDB CTE reproducing PortableHashEmbedder's sparse bucket sums for a
    * token stream `src(id, word)`: polynomial char-fold hash → bucket =
    * h % 64, sign = ±1 from (h / 64) % 2, integer sums per (id, bucket). */
  private def bucketSumsSql(src: String): String =
    s"""SELECT id, hv % 64 AS bucket,
      |        CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END)
      |          AS BIGINT) AS s
      |      FROM (SELECT id,
      |              list_reduce(list_transform(string_split(word, ''),
      |                c -> CAST(ascii(c) AS BIGINT)),
      |                (a, c) -> (a * 31 + c) % 2147483647) AS hv
      |            FROM ($src) WHERE word <> '')
      |      GROUP BY 1, 2""".stripMargin

  /** q72: the batched embedding operator (L1) under the oracle gate — the
    * PortableHashEmbedder runs through the real mapPartitions batching path
    * and its output is checked in exact integer space (two components plus
    * the squared norm); DuckDB recomputes the sparse bucket sums from the
    * raw text. */
  private def q72(s: SparkSession, d: String): DataFrame = {
    val embedded = EmbedOps.embedText(
      docs(s, d).select(col("doc_id"), col("text")),
      "text", "embedding", new graft.llm.PortableHashEmbedder(64))
    embedded.select(col("doc_id"),
      element_at(col("embedding"), 1).cast("long").as("s0"),
      element_at(col("embedding"), 32).cast("long").as("s31"),
      aggregate(col("embedding"), lit(0L),
        (acc, x) => acc + x.cast("long") * x.cast("long")).as("norm2"))
  }

  private val q72Sql =
    s"""WITH sums AS (
      |  ${bucketSumsSql("SELECT doc_id AS id, unnest(string_split(text, ' ')) AS word FROM documents")})
      |SELECT id AS doc_id,
      |  coalesce(max(CASE WHEN bucket = 0 THEN s END), 0) AS s0,
      |  coalesce(max(CASE WHEN bucket = 31 THEN s END), 0) AS s31,
      |  CAST(sum(s * s) AS BIGINT) AS norm2
      |FROM sums GROUP BY 1""".stripMargin

  /** q73: the RAG retrieval pipeline (§3.2: embed query → cosine top-k)
    * oracle-checked end-to-end: the query string is embedded by the engine
    * (driver-side, same embedder), documents through the batched path, and
    * DuckDB independently recomputes BOTH embeddings from raw text via the
    * portable hash. Integer bucket sums make every cosine double exact. */
  private def q73(s: SparkSession, d: String): DataFrame = {
    val embedder = new graft.llm.PortableHashEmbedder(64)
    val qvec = embedder.embed(ragQuery)
    val embedded = EmbedOps.embedText(
      docs(s, d).select(col("doc_id"), col("text")),
      "text", "embedding", embedder)
    embedded.select(col("doc_id"),
        round(graft.functions.CosineSimilarity(col("embedding"),
          array(qvec.map(v => lit(v)): _*)), 4).as("simr"))
      .orderBy(col("simr").desc, col("doc_id"))
      .limit(3)
  }

  private val ragQuery = "the data pipeline model team"

  private val q73Sql = {
    val qWords = ragQuery.split(" ").map(w => s"('$w')").mkString(", ")
    s"""WITH d AS (
      |  ${bucketSumsSql("SELECT doc_id AS id, unnest(string_split(text, ' ')) AS word FROM documents")}),
      |q AS (
      |  ${bucketSumsSql(s"SELECT 0 AS id, word FROM (VALUES $qWords) t(word)")}),
      |dn AS (SELECT id, sqrt(sum(s * s)) AS nm FROM d GROUP BY 1),
      |qn AS (SELECT sqrt(sum(s * s)) AS nm FROM q),
      |dot AS (SELECT d.id, sum(d.s * q.s) AS dp
      |        FROM d JOIN q ON d.bucket = q.bucket GROUP BY 1)
      |SELECT dn.id AS doc_id,
      |  round(coalesce(dot.dp, 0) / (dn.nm * qn.nm), 4) AS simr
      |FROM dn LEFT JOIN dot ON dn.id = dot.id, qn
      |ORDER BY simr DESC, doc_id LIMIT 3""".stripMargin
  }

  /** q119: HYBRID retrieval — the modern RAG ranker: blend a lexical
    * score (query-term hit rate over the doc's tokens — the degenerate
    * single-doc-length BM25 term) with the semantic cosine to the query
    * embedding, 50/50, and take the fused top-10. Composes the engine's
    * existing pieces — native codegen cosine (q40) + the FTS postings
    * index ([[Fts.lexicalScores]], q46/q127's index as the lexical
    * serving path): the query vector broadcasts as a 1-row dim, the
    * lexical leg reads only the query terms' postings, the fusion is a
    * projection, and the
    * top-10 is TakeOrderedAndProject. Both component scores are
    * order-stable double folds, so the fused score rounds identically
    * cross-engine. At 100 TB the same plan holds: replace the brute cosine
    * with the IVF/LSH candidate set (q62/q84) and fuse on candidates. */
  private def q119(s: SparkSession, d: String): DataFrame = {
    // lexical leg served from the FTS index (q46/q127's postings + doc
    // lengths), not a text re-scan: sum of query-term tf over doc length ==
    // |tokens ∈ terms| / |tokens|, the same score the oracle computes
    // directly — at 100 TB the index is term-bucketed and this leg reads
    // only three terms' postings
    val d0 = docs(s, d)
    val lex = Fts.lexicalScores(
      Fts.positionalPostings(d0, "doc_id", "text"),
      Fts.docLengths(d0, "doc_id", "text"),
      Seq("table", "join", "scan"))
    val q = emb(s, d).filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val sem = emb(s, d).crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        graft.functions.CosineSimilarity(col("embedding"), col("qe")).as("sem"))
    lex.join(sem, "doc_id")
      .select(col("doc_id"), round(col("lex"), 4).as("lex"),
        round(col("sem"), 4).as("sem"),
        round(col("sem") * 0.5 + col("lex") * 0.5, 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  private val q119Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |sem AS (SELECT vec_id AS doc_id,
      |    list_sum(list_transform(list_zip(embedding, qe),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(qe,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sem
      |  FROM embeddings, q),
      |lex AS (SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ('table', 'join', 'scan'))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS lex
      |  FROM documents)
      |SELECT doc_id, round(lex, 4) AS lex, round(sem, 4) AS sem,
      |  round(sem * 0.5 + lex * 0.5, 4) AS score
      |FROM lex JOIN sem USING (doc_id)
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** q148: hybrid retrieval by RECIPROCAL-RANK FUSION ([[Hybrid.rrfFuse]],
    * k=60), both legs served from PERSISTED indexes — the capstone
    * composition of the index work: BM25 top-20 reads only the query
    * terms' buckets of the postings index (q127/q129's path), ANN top-20
    * probes the IVF index with nProbe == nLists so the leg is
    * brute-force-exact (the q62 trick) and the oracle can recompute it.
    * Ranks are taken on the ROUNDED scores with id tiebreaks, so both
    * engines agree on every rank; the fused score is a fixed-order
    * two-term double sum. Docs absent from a leg carry rank 0. */
  private def q148(s: SparkSession, d: String): DataFrame =
    hybridRrf(s, d, compactFirst = false)

  /** q149: the SAME pipeline with a [[PartitionedIndexOps.compact]] pass
    * over both indexes' main tables between build and probe —
    * maxFiles=0 forces every partition through the rewrite, so the shared
    * q148 oracle hash-fails on ANY row compaction loses, duplicates, or
    * reroutes. Gates the maintenance op a long ingest loop needs (every
    * upsert appends files; probe cost degrades with file count) through
    * the driver, not just CompactionSpec. */
  private def q149(s: SparkSession, d: String): DataFrame =
    hybridRrf(s, d, compactFirst = true)

  private def hybridRrf(s: SparkSession, d: String,
      compactFirst: Boolean): DataFrame = {
    val d0 = docs(s, d)
    val e = emb(s, d)
    val terms = Seq("table", "join", "scan")
    val base = graft.TempDirs.scratchAtExit(
      if (compactFirst) "hybrid_rrf_c" else "hybrid_rrf")
    val fpath = base.resolve("fts").toString
    Fts.writePostingsIndex(
      Fts.positionalPostings(d0, "doc_id", "text"), fpath,
      nBuckets = 16)
    val qvec = e.filter(col("vec_id") === 1)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val cents = fullCents(s, d)
    val ipath = base.resolve("ivf").toString
    Similarity.writeIvfIndex(e, "embedding", "vec_id", cents, ipath)
    // compaction must precede ANY index read: a DataFrame captures its
    // file listing when the reader plans the scan, and compaction
    // replaces those files (FILE_NOT_EXIST on a stale plan otherwise)
    if (compactFirst) {
      PartitionedIndexOps.compact(s, fpath, "wb", maxFiles = 0)
      PartitionedIndexOps.compact(s, ipath, "list_id", maxFiles = 0)
    }
    val bm = Fts.bm25Scores(
        Fts.loadPostings(s, fpath, terms, nBuckets = 16),
        Fts.docLengths(d0, "doc_id", "text"), terms)
      .select(col("doc_id"), round(col("bm25"), 4).as("s"))
    val ann = Similarity.probeIvfIndex(s, ipath, "embedding", "vec_id",
        qvec, 20, 0 until 8)
      .select(col("vec_id").as("doc_id"), col("sim").as("s"))
    Hybrid.rrfFuse(Seq(
        "lex" -> Hybrid.topRanks(bm, "doc_id", "s", 20),
        "sem" -> Hybrid.topRanks(ann, "doc_id", "s", 20)),
      "doc_id")
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  private val q148Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS word
      |             FROM documents),
      |p AS (SELECT word, doc_id, count(*) AS tf FROM tok
      |      WHERE word IN ('join','scan','table') GROUP BY 1,2),
      |dft AS (SELECT word, count(*) AS df FROM p GROUP BY 1),
      |dl AS (SELECT doc_id, len(string_split(text,' ')) AS doc_len
      |       FROM documents),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(doc_len) AS avgdl
      |       FROM dl),
      |sc AS (SELECT p.doc_id, p.word,
      |    ln((st.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1)
      |      * (p.tf * 2.2)
      |      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.doc_len / st.avgdl)) AS score
      |  FROM p JOIN dft USING (word) JOIN dl USING (doc_id), st),
      |bm AS (SELECT doc_id,
      |  round(coalesce(sum(CASE WHEN word='join' THEN score END), 0)
      |      + coalesce(sum(CASE WHEN word='scan' THEN score END), 0)
      |      + coalesce(sum(CASE WHEN word='table' THEN score END), 0), 4) AS s
      |  FROM sc GROUP BY doc_id),
      |lexr AS (SELECT doc_id, r FROM (
      |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
      |    FROM bm) WHERE r <= 20),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
      |sim AS (SELECT vec_id AS doc_id,
      |    round(list_sum(list_transform(list_zip(embedding, qe),
      |        pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(embedding,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(qe,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS s
      |  FROM embeddings, q),
      |semr AS (SELECT doc_id, r FROM (
      |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
      |    FROM sim) WHERE r <= 20),
      |f AS (SELECT coalesce(l.doc_id, m.doc_id) AS doc_id,
      |        CAST(coalesce(l.r, 0) AS BIGINT) AS lex_rank,
      |        CAST(coalesce(m.r, 0) AS BIGINT) AS sem_rank
      |      FROM lexr l FULL OUTER JOIN semr m ON l.doc_id = m.doc_id)
      |SELECT doc_id, lex_rank, sem_rank,
      |  round((CASE WHEN lex_rank > 0 THEN 1.0/(60 + lex_rank) ELSE 0 END)
      |      + (CASE WHEN sem_rank > 0 THEN 1.0/(60 + sem_rank) ELSE 0 END),
      |    6) AS rrf
      |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** q150: PQ-ANN ([[Pq]]: m=8 subspaces × k=16 codewords over the
    * 64-dim embeddings, ADC candidate gen, exact re-rank of the top 50) —
    * judged q44-style: the rows are the BRUTE-FORCE cosine top-10 (the
    * same exact ranking DuckDB recomputes) and `recall_ok` asserts the PQ
    * path recovered at least 7 of those 10 through an 8-byte-per-vector
    * scan + 64-row re-rank (measured 9/9/8 at sf0.001/0.01/0.1 — the pin
    * sits a full hit under the observed minimum). Every step is
    * deterministic (seedless init = lowest-id rows, fixed-order folds),
    * so the boolean is stable per dataset, and a PQ regression (bad
    * codebooks, broken ADC, lost candidates) flips it and hash-fails the
    * oracle. */
  private def q150(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qvec = e.filter(col("vec_id") === 1)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val books = fullBooks(s, d)
    val pq10 = Pq.pqTopK(e, "embedding", "vec_id", qvec, 10, books,
      rerank = 64)
    val exact10 = e.select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"),
          array(qvec.map(lit): _*)), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
    val hits = pq10.select(col("vec_id"))
      .join(exact10.select(col("vec_id")), "vec_id").count()
    exact10.withColumn("recall_ok", lit(hits >= 7))
  }

  private val q150Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
      |s AS (SELECT vec_id,
      |    list_sum(list_transform(list_zip(embedding, qe),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
      |    sqrt(list_sum(list_transform(qe,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
      |  FROM embeddings, q)
      |SELECT vec_id, round(dot / (na * nb), 4) AS sim, true AS recall_ok
      |FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** q151: the persisted IVF-PQ index ([[IvfPq]]) driven through its whole
    * lifecycle — bulk build over a perturbed crawl 1 (reversed even
    * embeddings + true odds, q147's setup), RE-CRAWL upsert of the true
    * evens (codes AND lists change; stale rows must leave both tables),
    * then a full-probe ADC query with exact re-rank. Output = exact
    * cosine for EVERY vector in the post-upsert refine table (so the
    * brute-force oracle fails on any stale survivor or missed upsert,
    * q147-style) + `recall_ok`: the PQ probe (8 B/vector candidate scan,
    * 64-row point-lookup re-rank) recovered ≥7 of the true top-10 — the
    * q150 contract, here served from the persisted index rather than an
    * inline encode. */
  private def q151(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qvec = e.filter(col("vec_id") === 1)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val cents = fullCents(s, d)
    val books = fullBooks(s, d)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val crawl1 = evens.withColumn("embedding", reverse(col("embedding")))
      .unionByName(e.filter(col("vec_id") % 2 === 1))
    val path = graft.TempDirs.scratchAtExit("ivfpq")
      .resolve("idx").toString
    IvfPq.writeIvfPqIndex(crawl1, "embedding", "vec_id", cents, books, path)
    IvfPq.upsertIvfPqIndex(evens, "embedding", "vec_id", cents, books, path)
    val pq10 = IvfPq.probeIvfPqIndex(s, path, "embedding", "vec_id",
      qvec, 10, 0 until 8, books, rerank = 64)
    val qv = array(qvec.map(lit): _*)
    val exactAll = IvfPq.index(path).readData(s)
      .select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), qv), 4)
          .as("sim"))
    val exact10 = exactAll.orderBy(col("sim").desc, col("vec_id"))
      .limit(10).select(col("vec_id"))
    val hits = pq10.select(col("vec_id")).join(exact10, "vec_id").count()
    exactAll.withColumn("recall_ok", lit(hits >= 7))
      .orderBy(col("sim").desc, col("vec_id"))
  }

  private val q151Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
      |s AS (SELECT vec_id,
      |    list_sum(list_transform(list_zip(embedding, qe),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
      |    sqrt(list_sum(list_transform(qe,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
      |  FROM embeddings, q)
      |SELECT vec_id, round(dot / (na * nb), 4) AS sim, true AS recall_ok
      |FROM s ORDER BY sim DESC, vec_id""".stripMargin

  /** q154: streaming ANN INGEST — the IVF-PQ index maintained from a
    * Structured Streaming foreachBatch loop (q145's drain shape applied
    * to vectors): slice 0 bulk-builds (perturbed even embeddings +
    * odds), slice 1 is a no-op-overlap append, slice 2 RE-CRAWLS the
    * evens with their true embeddings — so one drain exercises empty-dir
    * bulk routing, append merge, and the stale-vector kill path against
    * live checkpointed state. Output = exact sim for every vector left
    * in the refine table, so the q147 brute-force oracle fails on any
    * stale survivor, lost row, or duplicate. */
  private def q154(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qvec = e.filter(col("vec_id") === 1)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val cents = fullCents(s, d)
    val books = fullBooks(s, d)
    val base = graft.TempDirs.scratchAtExit("stream_ann")
    val idx = base.resolve("idx").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
    graft.streaming.IngestHarness.drain(s, base, Seq(
        evens.withColumn("embedding", reverse(col("embedding")))
          .unionByName(e.filter(col("vec_id") % 4 === 1)),
        e.filter(col("vec_id") % 4 === 3),
        evens),
      batch => IvfPq.upsertIvfPqIndex(batch, "embedding", "vec_id", cents,
        books, idx))
    val qv = array(qvec.map(lit): _*)
    IvfPq.index(idx).readData(s)
      .select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), qv), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
  }

  /** Shared tail of the recall@10-vs-read-fraction eval harnesses
    * (q169/q172/q173): `readRows` carries one row per (query, index row)
    * READ — per-query counts are that query's solo-probe read, divided
    * by `readDenom` — and `candPairs` the (qid, vec_id) candidates that
    * survive the family's cut. ONE definition so the metric can't
    * silently diverge between families; meanRecall counts a
    * zero-candidate query as ZERO (hits summed over the batch ÷ nQ·k,
    * never averaged over the queries that happened to survive a join —
    * the inflation trap a per-group avg hides), and readFrac applies the
    * same rule (total reads ÷ nQ — a zero-read query counts as 0).
    * Margins print to stderr as [tag] for drift diagnosis. */
  private def recallContract(exact: DataFrame, readRows: DataFrame,
      candPairs: DataFrame, nQ: Int, k: Int, readDenom: Double,
      recallMin: Double, readMax: Double, tag: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    val exactTop = exact.withColumn("rk", row_number().over(wExact))
      .filter(col("rk") <= k)
    // sum-over-batch ÷ nQ, mirroring meanRecall: a query whose probe
    // reads ZERO rows counts as 0, not dropped from the mean (a
    // per-group avg over surviving qids silently inflates past it)
    val perQueryScanned = readRows.count().toDouble / nQ
    val readFrac = perQueryScanned / readDenom
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    val famTop = candPairs.join(exact, Seq("qid", "vec_id"))
      .withColumn("prk", row_number().over(wTop))
      .filter(col("prk") <= k)
    val hits = famTop.join(exactTop.select(col("qid"), col("vec_id")),
      Seq("qid", "vec_id"), "left_semi").count()
    val meanRecall = hits.toDouble / (nQ.toDouble * k)
    System.err.println(
      f"[$tag] meanRecall=$meanRecall%.3f readFrac=$readFrac%.4f")
    exactTop.filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("top1"), col("sim").as("sim1"),
        lit(meanRecall >= recallMin).as("recall_ok"),
        lit(readFrac <= readMax).as("read_ok"))
      .orderBy(col("qid"))
      .localCheckpoint(true)
  }

  /** q158: batch ANN EVALUATION harness — recall@10 of the PQ path
    * against exact ground truth for 10 query vectors at once, the way a
    * retrieval library qualifies an index build. Batch shape (never a
    * per-query driver loop): ONE broadcast cross join + per-query window
    * ranks the exact ground truth; the corpus is PQ-encoded ONCE and a
    * 10-wide ADC array posexplodes into (query, candidate) rows, so the
    * candidate cut is one partitioned window over all queries; re-rank
    * sims come from joining back to the already-computed exact scores.
    * Output rows are the exact per-query top-1 (DuckDB recomputes) and
    * `recall_ok` pins mean recall@10 ≥ 0.7 across the query set
    * (measured ≈0.9 at each SF; a PQ/eval regression flips the boolean
    * and hash-fails the oracle). */
  private def q158(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, d)
    val nQ = 10; val k = 10
    // the ADC cut must scale with the corpus or recall degrades by
    // construction (64 candidates is 13% of 500 vectors but 3% of 2000)
    val rerank = math.min(4096L, math.max(64L, e.count() / 8)).toInt
    val books = fullBooks(s, d)
    // <= nQ query-vector rows: the evaluation's model-sized input
    val qrows = e.filter(col("vec_id") < nQ)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val qdf = broadcast(e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val exact = e.crossJoin(qdf)
      .select(col("qid"), col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), col("qe")),
          4).as("sim"))
      .cache()
    try {
      val wExact = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      val exactTop = exact.withColumn("rk", row_number().over(wExact))
        .filter(col("rk") <= k)
      val dim = books.length * books(0)(0).length
      val luts = qrows.map { case (_, qv) =>
        val q = qv.map(_.toDouble)
        val n = math.sqrt(q.map(x => x * x).sum)
        Pq.adcLut(if (n == 0.0) q else q.map(_ / n), books)
      }
      val qidOf = qrows.map(_._1)
      val adcArr = array(luts.map(l =>
        Pq.adcScoreExpr(col("__codes"), l)): _*)
      val wAdc = Window.partitionBy(col("qi"))
        .orderBy(col("adc").desc, col("vec_id"))
      val cand = e
        .withColumn("__n", Pq.vecNorm(col("embedding"), dim))
        .withColumn("__codes",
          Pq.encodeExpr(col("embedding"), col("__n"), books))
        .select(col("vec_id"), posexplode(adcArr).as(Seq("qi", "adc")))
        .withColumn("rk", row_number().over(wAdc))
        .filter(col("rk") <= rerank)
        .select(element_at(
            array(qidOf.map(lit): _*), col("qi") + 1).as("qid"),
          col("vec_id"))
      val wPq = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      val pqTop = cand.join(exact, Seq("qid", "vec_id"))
        .withColumn("prk", row_number().over(wPq))
        .filter(col("prk") <= k)
      // hits per query against the exact top-k; mean recall is 1 row
      // zero-hit queries count as 0: hits summed over the batch ÷ nQ·k,
      // never averaged over the groups that survive the join (the
      // recallContract rule, applied to this pre-helper harness too)
      val meanRecall = pqTop
        .join(exactTop.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .count().toDouble / (nQ.toDouble * k)
      exactTop.filter(col("rk") === 1)
        .select(col("qid"), col("vec_id").as("top1"), col("sim").as("sim1"),
          lit(meanRecall >= 0.7).as("recall_ok"))
        .orderBy(col("qid"))
        .localCheckpoint(true)
    } finally exact.unpersist()
  }

  private val q158Sql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
      |           WHERE vec_id < 10),
      |s AS (SELECT q.qid, e.vec_id,
      |    round(list_sum(list_transform(list_zip(e.embedding, q.qe),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(e.embedding,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(q.qe,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
      |  FROM embeddings e, q),
      |r AS (SELECT qid, vec_id, sim,
      |        row_number() OVER (PARTITION BY qid
      |                           ORDER BY sim DESC, vec_id) AS rk
      |      FROM s)
      |SELECT qid, vec_id AS top1, sim AS sim1, true AS recall_ok
      |FROM r WHERE rk = 1 ORDER BY qid""".stripMargin

  /** q159: persisted LSH index RE-CRAWL round trip ([[LshIndex]] — the
    * third persisted ANN family): crawl 1 indexes perturbed (reversed)
    * even embeddings + true odds, crawl 2 re-crawls the evens — sign
    * bits flip, vectors MOVE buckets, stale copies must leave
    * (delete-vacated ordering). Output = exact sim for every stored
    * vector, so the q147 brute-force oracle fails on any stale survivor
    * or lost row; hamming-radius partition pruning is spec-asserted in
    * LshIndexSpec. */
  private def q159(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qvec = e.filter(col("vec_id") === 1)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val planes = Similarity.hyperplanes(dim, numPlanes = 6)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val crawl1 = evens.withColumn("embedding", reverse(col("embedding")))
      .unionByName(e.filter(col("vec_id") % 2 === 1))
    val path = graft.TempDirs.scratchAtExit("lsh_idx")
      .resolve("idx").toString
    LshIndex.writeLshIndex(crawl1, "embedding", "vec_id", planes, path)
    LshIndex.upsertLshIndex(evens, "embedding", "vec_id", planes, path)
    val qv = array(qvec.map(lit): _*)
    LshIndex.index(path).read(s)
      .select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), qv), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
  }

  /** q163: contrastive HARD-NEGATIVE MINING — the training-pair generator
    * for embedding-model finetuning (DPR/SimCSE shape): for each of the 8
    * lowest-id anchor vectors, the top-3 highest-cosine vectors whose
    * `label` DIFFERS from the anchor's (the "looks similar, isn't" pairs a
    * contrastive loss needs). Batch shape (the q158 harness, never a
    * per-anchor driver loop): anchors broadcast (model-sized), exact
    * cosine in codegen, one anchor-partitioned window over the scored
    * rows. At 100 TB the anchor batch probes the persisted ANN index
    * (q151) for candidates first and this exact scorer runs on the
    * survivors; the brute pass IS the oracle configuration. */
  private def q163(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    e.crossJoin(broadcast(miningAnchors(e))).transform(hardNegativeTopK)
  }

  /** The 8 lowest-id anchors, renamed for the mining joins. */
  private def miningAnchors(e: DataFrame): DataFrame =
    e.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("aid"), col("embedding").as("ae"),
        col("label").as("al"))

  /** Shared scoring tail for q163/q165 — both register the SAME oracle,
    * so the different-label filter, cosine, and per-anchor top-3 window
    * must stay semantically identical; one definition keeps an edit to
    * either query from silently breaking the shared-oracle contract. */
  private def hardNegativeTopK(cands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("aid"))
      .orderBy(col("sim").desc, col("vec_id"))
    cands
      .filter(col("label") =!= col("al") && col("vec_id") =!= col("aid"))
      .select(col("aid"), col("vec_id"), col("label"),
        graft.functions.CosineSimilarity(col("embedding"), col("ae"))
          .as("sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("aid"), col("rk"), col("vec_id"), col("label"),
        round(col("sim"), 4).as("simr"))
  }

  /** q165: hard-negative mining SERVED FROM THE PERSISTED LSH INDEX —
    * q163's claim made real: the index stores `label` as a payload column
    * ([[LshIndex.writeLshIndex]] keepCols, schema pinned), the whole
    * anchor batch joins its probe buckets in ONE pruned read + broadcast
    * join ([[LshIndex.batchProbe]] — never a per-anchor loop), and the
    * exact scorer runs on the candidates. Full-radius probe == exact
    * candidates, so q163's brute oracle applies verbatim; the radius-1
    * pruned-read trade is spec-asserted in LshIndexSpec. */
  private def q165(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val planes = Similarity.hyperplanes(dim, numPlanes = 6)
    val path = graft.TempDirs.scratchAtExit("lsh_mining")
      .resolve("idx").toString
    LshIndex.writeLshIndex(e, "embedding", "vec_id", planes, path,
      keepCols = Seq("label"))
    LshIndex.batchProbe(s, path, miningAnchors(e), "ae", planes, radius = 6)
      .transform(hardNegativeTopK)
  }

  /** q169: multi-table LSH EVALUATION harness — the q158 recall harness
    * extended to the OR-amplified LSH path
    * ([[LshIndex.writeMultiLshIndex]]): recall@10 AND index read fraction
    * pinned TOGETHER, the contract OR-amplification exists to hold
    * (recall at a fixed read fraction, with no table's hamming radius in
    * the loop — L independent tables, probe = union of one bucket per
    * table). Batch shape (the q158 rules, never a per-query loop): ONE
    * broadcast cross join ranks exact ground truth; the 10-anchor batch
    * probes all L tables in one pruned read + broadcast join
    * ([[LshIndex.batchProbeMultiManaged]] — the partition-filter shape is
    * spec-asserted in LshIndexSpec); candidate sims come from joining
    * back to the already-computed exact scores. A probe row is one
    * (anchor, index row, table) hit, so per-anchor row counts ARE the
    * rows that anchor's solo probe would read — the read-fraction metric
    * needs no second scan.
    *
    * Geometry is DATA-CALIBRATED, and honestly so: this corpus's top-10
    * neighbors sit at cosine ≈0.25–0.4 (near-random 64-dim — LSH's hard
    * case; per-plane collision ≈0.6), so tables are shallow and many
    * (3 planes × L=10). Simulated exactly (the seeded-plane bit
    * sequence reproduced offline) and confirmed live: mean recall@10 =
    * 0.90/0.91/0.98 at sf0.001/0.01/0.1 with mean per-query read
    * fraction 0.133/0.132/0.127 (max 0.145). Corpora with real cluster
    * structure (sims ≥0.7) take deeper tables at far lower read
    * fractions from the same two knobs — both are pinned in the index
    * config. Output rows are the exact per-query top-1 (DuckDB
    * recomputes) plus `recall_ok` (mean recall@10 ≥ 0.7) and `read_ok`
    * (mean per-query read ≤ 25% of index rows; expected 2^-3 = 12.5% +
    * bucket skew) — either regression flips a boolean and hash-fails
    * the oracle; the measured margins above make a future flip
    * diagnosable as data drift, not silently ambiguous. */
  private def q169(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, d)
    val nQ = 10; val k = 10; val nTables = 10
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val planeSets = (0 until nTables).map(t =>
      Similarity.hyperplanes(dim, numPlanes = 3, seed = 42L + t))
    val path = graft.TempDirs.scratchAtExit("mlsh_eval")
      .resolve("idx").toString
    LshIndex.writeMultiLshIndex(e.select(col("vec_id"), col("embedding")),
      "embedding", "vec_id", planeSets, path)
    val qdf = broadcast(e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val exact = e.crossJoin(qdf)
      .select(col("qid"), col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), col("qe")),
          4).as("sim"))
      .cache()
    val handle = LshIndex.batchProbeMultiManaged(s, path, qdf, "qe",
      planeSets)
    try {
      recallContract(exact, readRows = handle.result,
        candPairs = handle.result.select(col("qid"), col("vec_id"))
          .distinct(),
        nQ = nQ, k = k, readDenom = e.count().toDouble * nTables,
        recallMin = 0.7, readMax = 0.25, tag = "q169")
    } finally {
      handle.close()
      exact.unpersist()
    }
  }

  private val q169Sql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
      |           WHERE vec_id < 10),
      |s AS (SELECT q.qid, e.vec_id,
      |    round(list_sum(list_transform(list_zip(e.embedding, q.qe),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(e.embedding,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(q.qe,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
      |  FROM embeddings e, q),
      |r AS (SELECT qid, vec_id, sim,
      |        row_number() OVER (PARTITION BY qid
      |                           ORDER BY sim DESC, vec_id) AS rk
      |      FROM s)
      |SELECT qid, vec_id AS top1, sim AS sim1, true AS recall_ok,
      |       true AS read_ok
      |FROM r WHERE rk = 1 ORDER BY qid""".stripMargin

  /** q170: multi-table LSH RE-CRAWL round trip
    * ([[LshIndex.upsertMultiLshIndex]] — q159's contract for the
    * OR-amplified family): crawl 1 indexes perturbed (reversed) even
    * embeddings + true odds across L=4 tables, crawl 2 re-crawls the
    * evens — sign bits flip in EVERY table, vectors move (tbl, bucket)
    * partitions, stale copies must leave each table (delete-vacated
    * ordering over partition PAIRS). Output pins per-id copy count
    * (exactly L) AND min==max exact sim over the copies — a stale
    * survivor in any one table's old bucket splits min/max or bumps the
    * count, a lost row drops it; `dropDuplicates` would have hidden
    * exactly that. DuckDB recomputes the true sims and the constant L. */
  private def q170(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qvec = e.filter(col("vec_id") === 1)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val planeSets = (0 until 4).map(t =>
      Similarity.hyperplanes(dim, numPlanes = 3, seed = 42L + t))
    val evens = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val crawl1 = evens.withColumn("embedding", reverse(col("embedding")))
      .unionByName(e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding")))
    val path = graft.TempDirs.scratchAtExit("mlsh_recrawl")
      .resolve("idx").toString
    LshIndex.writeMultiLshIndex(crawl1, "embedding", "vec_id", planeSets,
      path)
    LshIndex.upsertMultiLshIndex(evens, "embedding", "vec_id", planeSets,
      path)
    val qv = array(qvec.map(lit): _*)
    LshIndex.multiIndex(path).read(s)
      .select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), qv), 4)
          .as("sim"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_copies"), min(col("sim")).as("sim_min"),
        max(col("sim")).as("sim_max"))
      .orderBy(col("sim_min").desc, col("vec_id"))
  }

  private val q170Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
      |s AS (SELECT vec_id,
      |    list_sum(list_transform(list_zip(embedding, qe),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
      |    sqrt(list_sum(list_transform(qe,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
      |  FROM embeddings, q)
      |SELECT vec_id, CAST(4 AS BIGINT) AS n_copies,
      |  round(dot / (na * nb), 4) AS sim_min,
      |  round(dot / (na * nb), 4) AS sim_max
      |FROM s ORDER BY sim_min DESC, vec_id""".stripMargin

  /** q171: streaming MULTI-TABLE LSH INGEST — the IngestHarness claim
    * ("a new index family gets streaming maintenance by supplying only
    * its fold") made real for the OR-amplified family: the q154 slice
    * plan (bulk-build perturbed evens + some odds, append the rest,
    * re-crawl the evens true) drained through
    * [[LshIndex.upsertMultiLshIndex]] as the fold against live
    * checkpointed state. Output = q170's copy-count + min/max-sim
    * aggregate over every stored row, so the same oracle fails on a
    * stale survivor in any table, a lost row, or a duplicate. */
  private def q171(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qvec = e.filter(col("vec_id") === 1)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val planeSets = (0 until 4).map(t =>
      Similarity.hyperplanes(dim, numPlanes = 3, seed = 42L + t))
    val base = graft.TempDirs.scratchAtExit("stream_mlsh")
    val idx = base.resolve("idx").toString
    val ev = e.select(col("vec_id"), col("embedding"))
    val evens = ev.filter(col("vec_id") % 2 === 0)
    graft.streaming.IngestHarness.drain(s, base, Seq(
        evens.withColumn("embedding", reverse(col("embedding")))
          .unionByName(ev.filter(col("vec_id") % 4 === 1)),
        ev.filter(col("vec_id") % 4 === 3),
        evens),
      batch => LshIndex.upsertMultiLshIndex(batch, "embedding", "vec_id",
        planeSets, idx))
    val qv = array(qvec.map(lit): _*)
    LshIndex.multiIndex(idx).read(s)
      .select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), qv), 4)
          .as("sim"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_copies"), min(col("sim")).as("sim_min"),
        max(col("sim")).as("sim_max"))
      .orderBy(col("sim_min").desc, col("vec_id"))
  }

  /** q172: IVF EVALUATION harness — q169's recall@10-vs-read-fraction
    * contract applied to the third ANN family, completing eval coverage
    * (q158 pins PQ, q169 pins multi-table LSH, this pins IVF): 10 query
    * vectors resolve their top-`nProbe` centroid lists DRIVER-side (the
    * centroid matrix is a broadcast-dim-sized model), the probed-list
    * union lands as ONE list_id partition filter on the persisted index,
    * per-query assignment rides a broadcast join, and candidate sims come
    * from joining back to the batch-computed exact scores. A probe row is
    * one (query, index row) hit inside a probed list, so per-query row
    * counts ARE that query's solo read — same no-second-scan trick as
    * q169. Geometry is data-calibrated like q169's (near-random corpus):
    * nProbe=3 of the 8 memoized full-corpus lists; measured recall@10 =
    * 0.90/0.89/0.87 at sf0.001/0.01/0.1 with per-query read fraction
    * 0.375/0.374/0.372 (clustered real embeddings hold recall at far
    * lower nProbe/nLists). Pins: recall_ok (mean ≥ 0.5), read_ok
    * (≤ 0.55); margins print to stderr per run. */
  private def q172(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, d)
    val nQ = 10; val k = 10; val nProbe = 3
    val ev = e.select(col("vec_id"), col("embedding"))
    val cents = fullCents(s, d)
    val path = graft.TempDirs.scratchAtExit("ivf_eval")
      .resolve("idx").toString
    Similarity.writeIvfIndex(ev, "embedding", "vec_id", cents, path)
    // ≤ nQ rows: the evaluation's model-sized query batch
    val qrows = e.filter(col("vec_id") < nQ)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // the production list selection itself — NOT a reimplementation, so
    // a tie-break or metric change there is what this harness measures
    val probePairs = qrows.flatMap { case (qid, qv) =>
      Similarity.probeLists(qv, cents, nProbe).map(i => (qid, i))
    }
    import s.implicits._
    val probes = broadcast(probePairs.toSeq.toDF("qid", "list_id"))
    val hit = probePairs.map(_._2).distinct.toSeq
    val qdf = broadcast(e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val exact = e.crossJoin(qdf)
      .select(col("qid"), col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), col("qe")),
          4).as("sim"))
      .cache()
    try {
      val served = Similarity.ivfIndex(path).read(s)
        .filter(col("list_id").isInCollection(hit))
        .join(probes, Seq("list_id"))
        .select(col("qid"), col("vec_id"))
        .cache()
      try {
        recallContract(exact, readRows = served, candPairs = served,
          nQ = nQ, k = k, readDenom = e.count().toDouble,
          recallMin = 0.5, readMax = 0.55, tag = "q172")
      } finally served.unpersist()
    } finally exact.unpersist()
  }

  /** q173: IVF-PQ EVALUATION harness — the recall@10-vs-read-fraction
    * contract on the PRODUCTION ANN path (FAISS IndexIVFPQ: probed
    * lists → ADC candidate cut → exact refine re-rank), closing the
    * eval matrix: q158 PQ-only, q169 multi-table LSH, q172 IVF-only,
    * this one their composition over the persisted q151-style index.
    * Batch shape throughout: per-query probed lists resolve driver-side
    * (q172), the pruned codes scan posexplodes a 10-wide ADC array
    * (q158's literal-LUT codegen) and the broadcast (qid, list_id) join
    * keeps only each query's probed rows, one window cuts to the
    * corpus-scaled rerank, re-rank sims join back to the batch-computed
    * exact scores. Per-query row counts before the cut ARE that query's
    * probed-list read (the q169/q172 no-second-scan trick); the 8-byte
    * PQ codes make the physical bytes ~32× less than the fraction
    * suggests. Measured recall@10 = 0.87/0.85/0.80 at sf0.001/0.01/0.1
    * with per-query read fraction 0.375/0.374/0.372 (nProbe=3 of 8 —
    * the composition's recall sits a few points under q172's IVF-only
    * 0.90/0.89/0.87, the PQ-quantization cost of reading 32× less).
    * Pins: recall_ok (mean ≥ 0.5), read_ok (≤ 0.55); margins on
    * stderr. */
  private def q173(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, d)
    val nQ = 10; val k = 10; val nProbe = 3
    val rerank = math.min(4096L, math.max(64L, e.count() / 8)).toInt
    val cents = fullCents(s, d)
    val books = fullBooks(s, d)
    val ev = e.select(col("vec_id"), col("embedding"))
    val path = graft.TempDirs.scratchAtExit("ivfpq_eval")
      .resolve("idx").toString
    IvfPq.writeIvfPqIndex(ev, "embedding", "vec_id", cents, books, path)
    // ≤ nQ rows: the evaluation's model-sized query batch
    val qrows = e.filter(col("vec_id") < nQ)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    // the production list selection itself — NOT a reimplementation
    val probePairs = qrows.flatMap { case (qid, qv) =>
      Similarity.probeLists(qv, cents, nProbe).map(i => (qid, i))
    }
    import s.implicits._
    val probes = broadcast(probePairs.toSeq.toDF("qid", "list_id"))
    val hit = probePairs.map(_._2).distinct.toSeq
    val qdf = broadcast(e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val exact = e.crossJoin(qdf)
      .select(col("qid"), col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), col("qe")),
          4).as("sim"))
      .cache()
    try {
      val luts = qrows.map { case (_, qv) =>
        val q = qv.map(_.toDouble)
        val n = math.sqrt(q.map(x => x * x).sum)
        Pq.adcLut(if (n == 0.0) q else q.map(_ / n), books)
      }
      val qidOf = qrows.map(_._1)
      val adcArr = array(luts.map(l =>
        Pq.adcScoreExpr(col("codes"), l)): _*)
      val cand = IvfPq.index(path).read(s)
        .filter(col("list_id").isInCollection(hit))
        .select(col("vec_id"), col("list_id"),
          posexplode(adcArr).as(Seq("qi", "adc")))
        .withColumn("qid",
          element_at(array(qidOf.map(lit): _*), col("qi") + 1))
        .join(probes, Seq("qid", "list_id"))
        .cache()
      try {
        val wAdc = Window.partitionBy(col("qid"))
          .orderBy(col("adc").desc, col("vec_id"))
        val cut = cand.withColumn("crk", row_number().over(wAdc))
          .filter(col("crk") <= rerank)
          .select(col("qid"), col("vec_id"))
        recallContract(exact, readRows = cand, candPairs = cut,
          nQ = nQ, k = k, readDenom = e.count().toDouble,
          recallMin = 0.5, readMax = 0.55, tag = "q173")
      } finally cand.unpersist()
    } finally exact.unpersist()
  }

  /** q176: MULTI-PROBE multi-table LSH evaluation — the q169 harness
    * with the amplification knob moved from tables to probes
    * ([[LshIndex.multiProbeBuckets]]): L = 5 tables (half of q169's 10)
    * probed at T = 2 buckets each — the exact bucket plus the
    * single-bit flip of the query's least-confident plane (smallest
    * |dot| margin, the FAISS multi-probe move). Same bucket-read count
    * as q169 (10), HALF the storage amplification — the trade this row
    * exists to measure. Batch shape: the anchors collect driver-side
    * (model-sized, the q158/q173 pattern) because the probe set is
    * per-query metadata from the margin sort; one pruned scan +
    * broadcast probe join serves the whole batch
    * ([[LshIndex.batchProbeMultiProbed]]). Measured recall@10 =
    * 0.940/0.920/0.950 at sf0.001/0.01/0.1 with per-query read fraction
    * 0.253/0.257/0.250 of the half-sized index (2 of 8 buckets per
    * table — q169 reads ~0.13 of a double-sized index: equal bytes
    * probed, HALF the bytes stored, and the margin-directed second
    * probe per table buys a few recall points over q169's
    * 0.90/0.91/0.98). Pins: recall_ok (mean ≥ 0.7), read_ok (≤ 0.35);
    * margins on stderr. */
  private def q176(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val nQ = 10; val k = 10; val nTables = 5; val probesPerTable = 2
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val planeSets = (0 until nTables).map(t =>
      Similarity.hyperplanes(dim, numPlanes = 3, seed = 42L + t))
    val path = graft.TempDirs.scratchAtExit("mlsh_mp_eval")
      .resolve("idx").toString
    LshIndex.writeMultiLshIndex(e.select(col("vec_id"), col("embedding")),
      "embedding", "vec_id", planeSets, path)
    // ≤ nQ rows: the evaluation's model-sized query batch
    val qrows = e.filter(col("vec_id") < nQ)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    val qdf = broadcast(e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val exact = e.crossJoin(qdf)
      .select(col("qid"), col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), col("qe")),
          4).as("sim"))
      .cache()
    try {
      val served = LshIndex.batchProbeMultiProbed(s, path, qrows,
        planeSets, probesPerTable).cache()
      try {
        recallContract(exact, readRows = served,
          candPairs = served.select(col("qid"), col("vec_id")).distinct(),
          nQ = nQ, k = k, readDenom = e.count().toDouble * nTables,
          recallMin = 0.7, readMax = 0.35, tag = "q176")
      } finally served.unpersist()
    } finally exact.unpersist()
  }

  private val q163Sql =
    """WITH a AS (SELECT vec_id AS aid, embedding AS ae, label AS al
      |           FROM embeddings ORDER BY vec_id LIMIT 8),
      |n AS (SELECT vec_id, embedding, label,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nm
      |  FROM embeddings),
      |na AS (SELECT aid, ae, al,
      |    sqrt(list_sum(list_transform(ae,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nma
      |  FROM a),
      |p AS (SELECT na.aid, n.vec_id, n.label,
      |    list_sum(list_transform(list_zip(n.embedding, na.ae),
      |      q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)))
      |      / (n.nm * na.nma) AS sim
      |  FROM n CROSS JOIN na
      |  WHERE n.label <> na.al AND n.vec_id <> na.aid),
      |r AS (SELECT aid, vec_id, label, sim,
      |        row_number() OVER (PARTITION BY aid
      |                           ORDER BY sim DESC, vec_id) AS rk
      |      FROM p)
      |SELECT aid, rk, vec_id, label, round(sim, 4) AS simr
      |FROM r WHERE rk <= 3""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q40_knn_cosine", q40, Some(q40Sql), bench = true),
    QueryDef("q41_label_centroids", q41, Some(q41Sql)),
    // q42/q43 hash with the engine's xxhash64 (not SQL-portable): their
    // oracles gate the structural contract (row-per-doc, dim, norm;
    // assembly shape) and the SAME pipelines are value-pinned via their
    // portable-hash siblings q72/q73 (oracle-green)
    QueryDef("q42_embed_documents", q42, Some(q42Sql)),
    QueryDef("q43_rag_retrieve", q43, Some(q43Sql)),
    QueryDef("q62_ivf_knn", q62, Some(q62Sql)),
    QueryDef("q146_ivf_index_upsert", q146, Some(q62Sql)),
    QueryDef("q147_ivf_recrawl_upsert", q147, Some(q147Sql)),
    QueryDef("q66_sql_surface", q66, Some(q66Sql)),
    QueryDef("q72_embed_portable", q72, Some(q72Sql)),
    QueryDef("q73_rag_portable", q73, Some(q73Sql)),
    QueryDef("q119_hybrid_rank", q119, Some(q119Sql)),
    QueryDef("q148_hybrid_rrf", q148, Some(q148Sql)),
    QueryDef("q149_compacted_rrf", q149, Some(q148Sql)),
    QueryDef("q150_pq_ann", q150, Some(q150Sql)),
    QueryDef("q151_ivfpq_index", q151, Some(q151Sql)),
    QueryDef("q154_stream_ann_ingest", q154, Some(q147Sql)),
    QueryDef("q158_ann_eval", q158, Some(q158Sql)),
    QueryDef("q159_lsh_index_recrawl", q159, Some(q147Sql)),
    QueryDef("q163_hard_negatives", q163, Some(q163Sql)),
    QueryDef("q165_index_mined_negatives", q165, Some(q163Sql)),
    QueryDef("q169_mlsh_eval", q169, Some(q169Sql)),
    QueryDef("q170_mlsh_recrawl", q170, Some(q170Sql)),
    QueryDef("q171_stream_mlsh_ingest", q171, Some(q170Sql)),
    QueryDef("q172_ivf_eval", q172, Some(q169Sql)),
    QueryDef("q173_ivfpq_eval", q173, Some(q169Sql)),
    QueryDef("q176_mlsh_multiprobe", q176, Some(q169Sql)))
}
