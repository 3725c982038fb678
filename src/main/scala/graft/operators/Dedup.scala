package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline north star:
  * exact (hash groupBy), brute-force n-gram Jaccard (the oracle baseline),
  * MinHash-LSH (the 100 TB scale path), and SimHash banding.
  *
  * Scale notes: the LSH pipeline is three shuffles — (1) shingle explode +
  * min-hash signature agg keyed on doc_id (map-side combinable `min`),
  * (2) band self-join keyed on (band, band_hash), (3) verify join back to
  * shingle sets. All keys are high-cardinality and salt-free; the O(n²)
  * brute force exists only as correctness oracle at test scale.
  * Semantics modeled on the reference's index hygiene (delete-before-insert
  * upsert at scripts/scrape_store_embed.py:79-86) generalized to near-dup
  * detection per the north-star requirements.
  */
object Dedup {

  /** doc_id + distinct word-n-gram shingle set. */
  def shingleSets(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), TextFunctions.shingleSet(col("text"), n).as("sg"))

  /** Exact duplicate groups by full-content hash. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(TextFunctions.contentFingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
      .filter(col("n") >= 2)

  /** All pairs with shingle-Jaccard ≥ threshold, O(n²) nested-loop —
    * correctness baseline only. Output: (jr, da, db). */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sg = shingleSets(docs, n)
    val a = sg.select(col("doc_id").as("da"), col("sg").as("sga"))
    val b = sg.select(col("doc_id").as("db"), col("sg").as("sgb"))
    val j = TextFunctions.jaccard(col("sga"), col("sgb"))
    a.join(b, col("da") < col("db"))
      .filter(j >= threshold)
      .select(round(j, 4).as("jr"), col("da"), col("db"))
  }

  /** MinHash signatures: numHashes independent min-hashes per doc, each a
    * seeded xxhash64 over the shingle string. One combine-friendly shuffle. */
  def minhashSignatures(sg: DataFrame, numHashes: Int): DataFrame = {
    val exploded = sg.select(col("doc_id"), explode(col("sg")).as("s"))
    val aggs = (0 until numHashes).map(i => min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    exploded.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-band struct columns (band id + xxhash64 of the band's signature
    * slice) — the banding shared by [[signatureBands]] and the capped
    * fingerprint-carrying variant. */
  private def bandStructs(numHashes: Int, rowsPerBand: Int): Seq[Column] = {
    val numBands = numHashes / rowsPerBand
    (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"h$i")): _*).as("bh"))
    }
  }

  /** Band rows (doc_id, band, bh) for a signature frame: the signature split
    * into bands of `rowsPerBand` hashes, each band reduced to one hash. This
    * is the unit the LSH self-join AND the incremental corpus-vs-batch join
    * share — and the thing a persisted dedup index would store. */
  def signatureBands(sig: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame =
    sig
      .select(col("doc_id"),
        explode(array(bandStructs(numHashes, rowsPerBand): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))

  /** Full-signature fingerprint: one xxhash64 over all `numHashes` minhash
    * columns — equal iff every minhash agrees, i.e. (whp) the docs have
    * identical shingle SETS. The hot-bucket cap collapses same-fingerprint
    * cluster members to one representative, the cluster-representative
    * pre-collapse that bounds boilerplate blowup. */
  def signatureFingerprint(numHashes: Int): Column =
    xxhash64((0 until numHashes).map(i => col(s"h$i")): _*)

  /** [[signatureBands]] carrying the doc's signature fingerprint —
    * shared with [[DedupIndex]], whose bands table stores the fingerprint
    * so the persisted-index probe can hot-bucket-collapse. */
  private[operators] def signatureBandsWithFp(sig: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame =
    sig
      .select(col("doc_id"), signatureFingerprint(numHashes).as("fp"),
        explode(array(bandStructs(numHashes, rowsPerBand): _*)).as("bb"))
      .select(col("doc_id"), col("fp"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))

  /** LSH candidate pairs: split the signature into bands of `rowsPerBand`
    * hashes and pair every two docs that share a (band, band-hash) bucket
    * — [[capBuckets]]' kernel with no cap, over ONE (band, bh) exchange.
    * A self-join of the band rows read the signature twice: Spark
    * re-instances the second read of a cached input with new attribute
    * ids, so its exchange could not be reused and the signature
    * aggregate ran once per side. */
  def lshCandidates(sig: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame =
    capBuckets(signatureBands(sig, numHashes, rowsPerBand)
        .withColumn("fp", lit(0L)), Int.MaxValue, admit = false, None)
      .distinct()

  /** Hot-bucket-capped LSH candidate pairs — [[lshCandidates]] with a
    * per-bucket population bound, the 100 TB guard against boilerplate
    * clusters: an m-member (band, bh) bucket emits m(m−1)/2 pairs inside
    * ONE task (the ×100 rehearsal: q35 emitted 470 M genuine pair
    * records). Buckets with ≤ `maxBucket` members pair exactly as
    * [[lshCandidates]] — on a corpus with no hot bucket the output is
    * IDENTICAL, which is what the oracle gate pins. A hot bucket instead:
    *
    *   1. pre-collapses same-[[signatureFingerprint]] members (identical
    *      shingle sets whp — the 100-copy case) to their min-doc_id
    *      representative, each member STAR-linked to its rep (linear, and
    *      exact: identical sets verify at j = 1);
    *   2. pairs the `maxBucket` smallest reps, and star-links every
    *      DROPPED rep to the bucket's min rep, so no member is orphaned.
    *      Forgone: pairs among dropped reps and between a dropped rep and
    *      kept reps other than the min — such an edge survives only if
    *      another of the pair's bands resurfaces it in a small bucket (the
    *      cap's recall trade; droppedReps = 0 means nothing was forgone).
    *
    * Per-bucket emission is thus ≤ m + maxBucket²/2 instead of m²/2, and
    * every member reaches its rep and every rep the bucket min, so
    * [[dupComponents]] connectivity survives. Lazy like [[lshCandidates]]:
    * the margin is observed by whichever action runs the result. */
  def lshCandidatesCapped(sig: DataFrame, numHashes: Int, rowsPerBand: Int,
      maxBucket: Int = 64): DataFrame =
    capBuckets(signatureBandsWithFp(sig, numHashes, rowsPerBand), maxBucket,
      admit = false, Some("lsh-cap")).distinct()

  /** A [[capKernel]] row: a pair (da < db), an admitted member da of
    * (band, bh), or — when `hot` > 0 — one hot bucket's margin. */
  private[operators] final case class CapRow(da: Long, db: Long, band: Int,
      bh: Long, hot: Long, dropped: Long)

  /** The hot-bucket cap of the three capped paths ([[lshCandidatesCapped]],
    * [[incrementalDupPairsCapped]], [[DedupIndex.probeIndexCapped]]) over
    * fingerprinted band rows (doc_id, fp, band, bh): ONE exchange on
    * (band, bh), a sort within partitions by (band, bh, fp, doc_id), then
    * the per-bucket [[capKernel]]. Returns (da, db) pairs, or with `admit`
    * the admitted corpus members (da, band, bh) for the caller's batch
    * join.
    *
    * The recall margin (when a `prefix` names it) is one
    * `Dataset.observe` on the kernel's output, named by
    * [[graft.obs.Profile.observationName]] after `prefix`:
    * hotBuckets/hotMembers show what the fingerprint collapse absorbed (a
    * 100-copy boilerplate cluster can bound 469 M pairs to 84 M with ZERO
    * dropped reps); cappedBuckets/droppedReps what the rep cap forwent.
    * [[graft.obs.Record]] reports it. It rides the kernel's stage, not a
    * root-union branch: a second read of the kernel re-reads its cached
    * input, which Spark re-instances with new attribute ids and cannot
    * match for exchange reuse (a second band exchange and signature pass).
    * The stage stays in the final plan whenever the kernel emits a
    * candidate, as every hot bucket does; AQE drops a stage that wrote no
    * rows, so an input with no candidate at all records no margin. */
  private[operators] def capBuckets(members: DataFrame, maxBucket: Int,
      admit: Boolean, prefix: Option[String]): DataFrame = {
    val id = members.schema("doc_id").dataType
    val kernel = members.select(col("doc_id").cast("long").as("doc_id"),
        col("fp"), col("band"), col("bh"))
      .repartition(col("band"), col("bh"))
      .sortWithinPartitions(col("band"), col("bh"), col("fp"), col("doc_id"))
      .mapPartitions(capKernel(maxBucket, admit))(
        org.apache.spark.sql.Encoders.product[CapRow]).toDF()
    prefix.fold(kernel)(p => kernel.observe(
        graft.obs.Profile.observationName(p),
        count(when(col("hot") > 0, 1)).as("hotBuckets"),
        coalesce(sum(col("hot")), lit(0L)).as("hotMembers"),
        count(when(col("dropped") > 0, 1)).as("cappedBuckets"),
        coalesce(sum(col("dropped")), lit(0L)).as("droppedReps")))
      .filter(col("hot") === 0).select(col("da").cast(id).as("da") +:
        (if (admit) Seq(col("band"), col("bh"))
          else Seq(col("db").cast(id).as("db"))): _*)
  }

  /** [[capBuckets]]' per-bucket iterator over rows (doc_id, fp, band, bh)
    * sorted by (band, bh, fp, doc_id). It buffers at most `maxBucket` + 1
    * rows to tell a small bucket (all pairs among its members) from a hot
    * one. In a hot bucket each fingerprint's first row is its rep (min
    * id), and every other member star-links to it as it streams by; at the
    * bucket's end the reps are ranked by id, the first `maxBucket` kept
    * with pairs among them, each dropped rep linked to rank 1, and one
    * margin row follows. A hot bucket holds 8 B per rep, never its
    * members. With `admit` a bucket yields its admitted members instead:
    * all of a small one, the kept reps of a hot one. */
  private def capKernel(maxBucket: Int, admit: Boolean)(
      rows: Iterator[Row]): Iterator[CapRow] = {
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val (band, bh) = (in.head.getInt(2), in.head.getLong(3))
      def inBucket = in.hasNext && in.head.getInt(2) == band &&
        in.head.getLong(3) == bh
      def pair(a: Long, b: Long) =
        CapRow(math.min(a, b), math.max(a, b), band, bh, 0L, 0L)
      def emit(ids: collection.IndexedSeq[Long]): Iterator[CapRow] =
        if (admit) ids.iterator.map(CapRow(_, 0L, band, bh, 0L, 0L))
        else for (i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator
          if ids(i) != ids(j)) yield pair(ids(i), ids(j))
      val head = collection.mutable.ArrayBuffer.empty[Row]
      while (head.size <= maxBucket && inBucket) head += in.next()
      if (head.size <= maxBucket) emit(head.map(_.getLong(0)))
      else {
        val reps = collection.mutable.ArrayBuilder.make[Long]
        var (m, fp, rep) = (0L, 0L, 0L)
        val stars = (head.iterator ++
            Iterator.continually(in).takeWhile(_ => inBucket).map(_.next()))
          .flatMap { r =>
            val (id, f) = (r.getLong(0), r.getLong(1))
            m += 1
            if (m == 1 || f != fp) { fp = f; rep = id; reps += id; None }
            else if (admit || id == rep) None
            else Some(pair(rep, id))
          }
        stars ++ {
          val rs = reps.result().sorted
          val dropped = rs.drop(maxBucket)
          emit(rs.take(maxBucket)) ++
            (if (admit) Iterator.empty
              else dropped.iterator.filter(_ != rs(0)).map(pair(rs(0), _))) ++
            Iterator.single(CapRow(0L, 0L, band, bh, m, dropped.length.toLong))
        }
      }
    }
  }

  /** Capped corpus-vs-batch candidates (da = corpus doc, db = batch doc),
    * shared by [[incrementalDupPairsCappedManaged]] and the capped
    * [[DedupIndex]] probe. `corpus` is (doc_id, fp, band, bh), `bb` the
    * batch bands (db, band, bh). A broadcast semi on the batch's (band, bh)
    * keys restricts the corpus to buckets the batch hits before the
    * kernel: populations stay exact, and the exchange never carries a
    * bucket that could not produce a candidate (the ×100 rehearsal: 7.2 M
    * hot members, capped probe 5.8 s vs uncapped 1.8 s before the semi). */
  private[operators] def cappedBatchCandidates(corpus: DataFrame,
      bb: DataFrame, maxBucket: Int, prefix: String): DataFrame =
    capBuckets(corpus.join(
        broadcast(bb.select(col("band"), col("bh")).distinct()),
        Seq("band", "bh"), "left_semi"), maxBucket, admit = true, Some(prefix))
      .join(bb, Seq("band", "bh"))
      .select(col("da"), col("db")).distinct()

  /** Exact-Jaccard verification of candidate (da, db) pairs against the
    * cached shingle frames of the da side and the db side — the tail every
    * near-dup pipeline shares. Output (jr, da, db). */
  private def verifyCandidates(cands: DataFrame, sga: DataFrame,
      sgb: DataFrame, threshold: Double): DataFrame = {
    val j = TextFunctions.jaccard(col("sga"), col("sgb"))
    cands
      .join(sga.select(col("doc_id").as("da"), col("sg").as("sga")), "da")
      .join(sgb.select(col("doc_id").as("db"), col("sg").as("sgb")), "db")
      .filter(j >= threshold)
      .select(round(j, 4).as("jr"), col("da"), col("db"))
  }

  /** Full MinHash-LSH near-dup pipeline with exact-Jaccard verification of
    * candidates. With 16 bands × 2 rows, P(miss) at j≥0.5 is (1−j²)^16 —
    * ≈1e-22 for the j≥0.9 pairs this corpus plants — so the verified output
    * equals the brute-force result (same oracle). */
  def minhashDupPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
      rowsPerBand: Int = 2, threshold: Double = 0.5): DataFrame = {
    // shingle sets feed the signature agg AND both sides of the verify join;
    // cache once instead of recomputing the scan+shingle pass three times
    val sg = shingleSets(docs, n).cache()
    val cands = lshCandidates(minhashSignatures(sg, numHashes), numHashes, rowsPerBand)
    verifyCandidates(cands, sg, sg, threshold)
  }

  /** [[minhashDupPairs]] through [[lshCandidatesCapped]] — equal to the
    * uncapped pipeline whenever no band bucket exceeds `maxBucket` members
    * (the oracle gate), bounded when boilerplate clusters would blow the
    * uncapped join up quadratically. */
  def minhashDupPairsCapped(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
      rowsPerBand: Int = 2, threshold: Double = 0.5,
      maxBucket: Int = 64): DataFrame =
    minhashDupPairsCappedManaged(docs, n, numHashes, rowsPerBand,
      threshold, maxBucket).result

  /** [[minhashDupPairsCapped]] with cache ownership of the one frame it
    * pins (the shingles), which the bare variant leaves pinned for the
    * session — a leak for a long-lived session calling it per batch (the
    * [[ProbeHandle]] rationale). Materialize `result`, then `close()`. */
  def minhashDupPairsCappedManaged(docs: DataFrame, n: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 2, threshold: Double = 0.5,
      maxBucket: Int = 64): ProbeHandle = {
    val sg = shingleSets(docs, n).cache()
    val cands = lshCandidatesCapped(minhashSignatures(sg, numHashes),
      numHashes, rowsPerBand, maxBucket)
    new ProbeHandle(verifyCandidates(cands, sg, sg, threshold), Seq(sg))
  }

  /** Incremental near-dup detection: a fresh BATCH of documents checked
    * against an existing CORPUS — the index-hygiene shape (reference
    * semantics: delete-before-insert upsert at scripts/scrape_store_embed
    * .py:79-86, generalized): before inserting a new batch, find which new
    * docs duplicate something already indexed. Unlike [[minhashDupPairs]]
    * this never self-joins the corpus: corpus bands join ONLY the (much
    * smaller) batch bands, so per-ingest cost is O(|batch| + matching
    * buckets), not O(|corpus|²). At 100 TB the corpus side of this join is a
    * PERSISTED band table ([[signatureBands]] output bucketed on (band, bh))
    * maintained by the upsert job; here both sides are derived inline.
    * Output (jr, da=corpus doc, db=batch doc) — exact-Jaccard verified, so
    * precision is exact; recall follows the minhash band bound. */
  def incrementalDupPairs(corpus: DataFrame, batch: DataFrame, n: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val csg = shingleSets(corpus, n).cache()
    val bsg = shingleSets(batch, n).cache()
    val cb = signatureBands(minhashSignatures(csg, numHashes), numHashes, rowsPerBand)
      .toDF("da", "band", "bh")
    val bb = signatureBands(minhashSignatures(bsg, numHashes), numHashes, rowsPerBand)
      .toDF("db", "band", "bh")
    val cand = cb.join(bb, Seq("band", "bh"))
      .select(col("da"), col("db"))
      .distinct()
    verifyCandidates(cand, csg, bsg, threshold)
  }

  /** [[incrementalDupPairs]] with the hot-bucket cap on the CORPUS side of
    * the band join — the ingest-time twin of [[lshCandidatesCapped]]: a
    * batch doc landing in a boilerplate bucket must not fan out to all its
    * 10 k corpus copies. Output is IDENTICAL when nothing is hot (the
    * oracle gate); a hot corpus bucket admits only its `maxBucket` smallest
    * fingerprint reps ([[capBuckets]], margin `lsh-cap-inc`). A batch doc
    * matching a collapsed member still matches its rep (identical shingle
    * sets verify identically), so each batch doc's dup VERDICT survives. */
  def incrementalDupPairsCapped(corpus: DataFrame, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxBucket: Int = 64): DataFrame =
    incrementalDupPairsCappedManaged(corpus, batch, n, numHashes,
      rowsPerBand, threshold, maxBucket).result

  /** [[incrementalDupPairsCapped]] with cache ownership over the TWO
    * frames it pins (corpus and batch shingles) — the per-ingest call
    * pattern is exactly the long-lived session the [[ProbeHandle]]
    * contract exists for. Materialize `result`, then `close()`. */
  def incrementalDupPairsCappedManaged(corpus: DataFrame, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxBucket: Int = 64): ProbeHandle = {
    val csg = shingleSets(corpus, n).cache()
    val bsg = shingleSets(batch, n).cache()
    val bb = signatureBands(minhashSignatures(bsg, numHashes),
      numHashes, rowsPerBand).toDF("db", "band", "bh")
    val cand = cappedBatchCandidates(
      signatureBandsWithFp(minhashSignatures(csg, numHashes), numHashes,
        rowsPerBand), bb, maxBucket, "lsh-cap-inc")
    new ProbeHandle(verifyCandidates(cand, csg, bsg, threshold), Seq(csg, bsg))
  }

  /** Cross-engine-reproducible word hash: a 31-bit polynomial fold over the
    * character codes, `h = (h*31 + code) mod (2^31-1)`. Weaker mixing than
    * xxhash64 but expressible identically in ANSI-ish SQL (DuckDB
    * list_reduce), which puts the whole simhash pipeline under the oracle
    * gate (q69). */
  def portableWordHash(w: Column): Column =
    aggregate(
      transform(split(w, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31 + c) % 2147483647L)

  /** SimHash over the document's words: per bit, majority vote of the
    * words' hash bits. Computed with explode + bitwise aggs — no UDF.
    * Default hash is xxhash64 over all 64 bits (the scale path);
    * `portableWordHash`/31 bits is the oracle-checkable configuration. */
  def simhash(docs: DataFrame,
      wordHash: Column => Column = xxhash64(_),
      numBits: Int = 64): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(TextFunctions.words(col("text"))).as("w"))
      .select(col("doc_id"), wordHash(col("w")).as("h"))
    // For each bit b: sum of (+1 if bit set else -1); simhash bit = sign.
    val bitCols = (0 until numBits).map { b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$b")
    }
    val votes = hashed.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    val hashExpr = (0 until numBits).map { b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    votes.select(col("doc_id"), hashExpr.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 64-bit hash into `numChunks` equal
    * chunks — by pigeonhole any pair within hamming distance (numChunks−1)
    * shares ≥1 chunk — bucket-join on chunk value, then verify true hamming
    * ≤ maxHamming. Default 4×16-bit chunks guarantees detection up to
    * hamming 3; raise numChunks to 8 (8-bit chunks) for hamming ≤ 7 recall,
    * at the cost of smaller buckets (n/2^bits per value) producing more
    * candidate pairs at very large corpora. */
  def simhashDupPairs(docs: DataFrame, maxHamming: Int = 3,
      numChunks: Int = 4,
      wordHash: Column => Column = xxhash64(_),
      numBits: Int = 64): DataFrame = {
    val sh = simhash(docs, wordHash, numBits)
    val bits = (numBits + numChunks - 1) / numChunks
    val mask = (1L << bits) - 1
    val chunks = (0 until numChunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("simhash"), c * bits).bitwiseAND(mask).as("cv"))
    }
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode(array(chunks: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.chunk").as("chunk"), col("bb.cv").as("cv"))
    // using-columns self-join (see lshCandidates)
    val x = banded.toDF("da", "ha", "chunk", "cv")
    val y = banded.toDF("db", "hb", "chunk", "cv")
    val cand = x.join(y, Seq("chunk", "cv"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("ha"), col("db"), col("hb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming"))
  }

  /** Connected components over a dup-pair graph — the step that turns
    * near-dup PAIRS (q34/q35/q84) into a dedup DECISION: every document in
    * a component keeps exactly one survivor (the min doc_id). Iterative
    * min-label propagation: each round joins labels across the symmetrized
    * edge list and takes the per-vertex minimum, keyed on doc id. A graph
    * of diameter d needs d + 1 rounds (the last confirms no change);
    * near-dup components are near-cliques, so 2-3 rounds converge, and a
    * graph that has not converged within `maxIters` fails loudly instead
    * of returning partial labels. Each round's labels become a leaf over
    * its executed, persisted rows
    * ([[org.apache.spark.sql.GraftShims.persistedLeaf]]), so the plan stays
    * the same size every round (a `cache()` keeps the analyzed plan, which
    * embeds the previous labels twice and doubles per round); the round's
    * convergence check is its one action, and unlike `localCheckpoint` a
    * lost block recomputes. Every cache is released before returning.
    * Returns (v, comp). */
  def dupComponents(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .union(pairs.select(col("db").as("src"), col("da").as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("comp", col("v"))
    var rows: Option[org.apache.spark.rdd.RDD[_]] = None
    try {
      var (iter, changed) = (0, true)
      while (changed && iter < maxIters) {
        val viaEdges = edges.join(labels, edges("src") === labels("v"))
          .select(col("dst").as("v"), col("comp"))
        val (next, nextRows) = org.apache.spark.sql.GraftShims.persistedLeaf(
          labels.select(col("v"), col("comp")).union(viaEdges)
            .groupBy(col("v")).agg(min(col("comp")).as("comp")))
        changed = !next.join(labels.withColumnRenamed("comp", "prev"), "v")
          .filter(col("comp") =!= col("prev")).isEmpty
        rows.foreach(_.unpersist())
        rows = Some(nextRows)
        labels = next; iter += 1
      }
      require(!changed, s"dupComponents did not converge within maxIters = " +
        s"$maxIters rounds: the pair graph's diameter is at least $maxIters " +
        "(a diameter-d graph needs d + 1 rounds); raise maxIters")
      labels
    } finally { rows.foreach(_.unpersist()); edges.unpersist() }
  }

  /** Dup groups: component id (= surviving doc), member count, sorted
    * member list. Docs with no dup pair are absent (they survive as-is). */
  def dupGroups(pairs: DataFrame): DataFrame =
    dupComponents(pairs)
      .groupBy(col("comp").as("component"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list(col("v")))).as("members"))

  /** Embedding-cosine near-dup pairs at scale — the bucketed path for the
    * one dedup family that previously had only the O(n²) baseline (q45).
    * Construction: Charikar sign-bit SimHash over `numPlanes` seeded random
    * hyperplanes (reusing [[Similarity.bucketExpr]] as the signature), the
    * signature chunk-banded exactly like [[simhashDupPairs]] — by pigeonhole
    * any pair whose sign vectors differ in fewer than numChunks bits shares
    * a chunk — candidates bucket-joined on (chunk, value), then EXACT cosine
    * verification. Precision is exact (the verify step); only recall is
    * probabilistic, as in [[minhashDupPairs]].
    *
    * Why chunk-banding and not hamming-1 probe replication: for a pair at
    * cosine s the per-plane sign-agreement probability is 1 − arccos(s)/π.
    * At s = 0.5 that is ≈ 0.67, so sign-hamming concentrates around
    * numPlanes/3 and a hamming-≤1 probe finds essentially nothing; OR-
    * amplification over narrow bands is what works near the threshold. Miss
    * probability is (1 − p^bits)^numChunks per pair: the 16-plane/8×2-bit
    * default gives ≥99% recall at s = 0.5 and ≈ 1−1e-9 at the s ≥ 0.9 the
    * near-dup corpora actually plant. At 100 TB raise numPlanes to 64 and
    * chunk width to 8-16 bits: true dups (per-plane agreement ≥ 0.97) still
    * share a chunk w.p. ≈ 1 while random pairs collide at 2^-bits per
    * chunk, so the join touches ~numChunks·n²/2^bits candidate pairs
    * instead of n²/2 — the same shape that makes minhash LSH viable.
    * Output (simr, da, db) is hash-identical to the brute baseline on the
    * test corpus — same contract as q34/q35. */
  def embeddingDupPairs(emb: DataFrame, embCol: String, idCol: String,
      threshold: Double = 0.5, numPlanes: Int = 16, numChunks: Int = 8,
      seed: Long = 42L): DataFrame = {
    val dim = emb.select(size(col(embCol))).head.getInt(0)
    val planes = Similarity.hyperplanes(dim, numPlanes, seed)
    val sb = Similarity.bucketize(
      emb.select(col(idCol).as("id"), col(embCol).as("e")), "e", planes)
    val bits = (numPlanes + numChunks - 1) / numChunks
    val mask = (1L << bits) - 1
    val chunks = (0 until numChunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("bucket"), c * bits).bitwiseAND(mask).as("cv"))
    }
    val banded = sb.select(col("id"), explode(array(chunks: _*)).as("bb"))
      .select(col("id"), col("bb.chunk").as("chunk"), col("bb.cv").as("cv"))
    // using-columns self-join (see lshCandidates)
    val x = banded.toDF("da", "chunk", "cv")
    val y = banded.toDF("db", "chunk", "cv")
    val cand = x.join(y, Seq("chunk", "cv"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"))
      .distinct()
    val sim = graft.functions.CosineSimilarity(col("ea"), col("eb"))
    cand
      .join(emb.select(col(idCol).as("da"), col(embCol).as("ea")), "da")
      .join(emb.select(col(idCol).as("db"), col(embCol).as("eb")), "db")
      .filter(sim >= threshold)
      .select(round(sim, 4).as("simr"), col("da"), col("db"))
  }

  /** Word-level containment pairs — the "exact substring dedup" family: a
    * doc is CONTAINED in another when its whole word sequence appears
    * contiguously inside the (strictly longer, or equal-length lower-id)
    * container. Truncated re-crawls and quote-wrapped mirrors are
    * containment dups that Jaccard at 0.5 can miss entirely.
    *
    * Candidate generation is exact, not probabilistic: if a's words appear
    * contiguously in b and a has ≥ n words, then a's FIRST n-gram is one of
    * b's n-grams — so the (first-gram ⋈ all-grams) equi-join finds every
    * true pair (docs under n words are skipped, stated contract). The join
    * is keyed on the gram string (~uniform); candidates then verify with a
    * space-padded substring check after re-joining texts by doc id. At
    * 100 TB the candidate join carries only (doc_id, gram) — texts travel
    * once, in the verify join, which touches candidate pairs only. Returns
    * (contained, container). */
  def containmentPairs(docs: DataFrame, n: Int = 5): DataFrame = {
    import graft.functions.WordNgrams
    // one cached scan+shingle pass feeds all four plan branches (grams,
    // first-grams, and both text sides of the verify join) — the
    // minhashDupPairs convention; array_distinct preserves first-occurrence
    // order, so element 0 of the distinct array IS the first n-gram
    val t = docs.select(col("doc_id"), col("text"),
      array_distinct(WordNgrams(col("text"), n)).as("sg")).cache()
    val grams = t.select(col("doc_id").as("db"), explode(col("sg")).as("gram"))
    val firstGram = t.select(col("doc_id").as("da"),
      get(col("sg"), lit(0)).as("gram"))
      .filter(col("gram").isNotNull)
    val cand = firstGram.join(grams, Seq("gram"))
      .filter(col("da") =!= col("db"))
      .select(col("da"), col("db")).distinct()
    val ta = t.select(col("doc_id").as("da"), col("text").as("text_a"))
    val tb = t.select(col("doc_id").as("db"), col("text").as("text_b"))
    cand.join(ta, "da").join(tb, "db")
      .filter(concat(lit(" "), col("text_b"), lit(" "))
        .contains(concat(lit(" "), col("text_a"), lit(" "))) &&
        (length(col("text_b")) > length(col("text_a")) ||
          (length(col("text_b")) === length(col("text_a")) &&
            col("db") < col("da"))))
      .select(col("da").as("contained"), col("db").as("container"))
  }
}
