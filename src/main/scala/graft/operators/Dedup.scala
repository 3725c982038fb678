package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
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
    * hashes, bucket-join on (band, band-hash). */
  def lshCandidates(sig: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = signatureBands(sig, numHashes, rowsPerBand)
    // using-columns self-join: joining by NAME on renamed frames guarantees
    // both (band, bh) become hash-join equi keys — alias-qualified self-join
    // conditions can degrade to residual filters over a band-only join
    val x = bands.toDF("da", "band", "bh")
    val y = bands.toDF("db", "band", "bh")
    x.join(y, Seq("band", "bh"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"))
      .distinct()
  }

  /** Hot-bucket-capped LSH candidate pairs — [[lshCandidates]] with a
    * per-bucket population bound, the 100 TB guard against boilerplate
    * clusters: an m-member (band, bh) bucket emits m(m−1)/2 pairs inside
    * ONE task, so a 10 k-copy boilerplate cluster turns a band bucket into
    * a 50 M-pair quadratic blowup no partitioning can split (the ×100
    * rehearsal measured exactly this shape: q35 emitted 470 M genuine pair
    * records). Buckets with ≤ `maxBucket` members are joined exactly as
    * [[lshCandidates]] — on a corpus with no hot bucket the output is
    * IDENTICAL, which is what the oracle gate pins. A hot bucket instead:
    *
    *   1. pre-collapses same-[[signatureFingerprint]] members (identical
    *      shingle sets whp — the 100-copy case) to their min-doc_id
    *      representative, each member STAR-linked to its rep (m − groups
    *      pairs, linear, and exact: identical sets verify at j = 1);
    *   2. all-pairs joins the representatives — capped at the `maxBucket`
    *      smallest if genuinely diverse near-identical text survives the
    *      collapse ([[HotCap]]'s observed `droppedReps` is the recall
    *      margin); every DROPPED rep is still star-linked to the bucket's
    *      min rep, so no member is orphaned — in a boilerplate near-clique
    *      that link verifies and the component survives intact. What IS
    *      forgone in this bucket: pair enumeration among dropped reps AND
    *      between a dropped rep and the kept reps other than the bucket
    *      min — a dropped rep that is a true near-dup of kept rep #3 but
    *      NOT of the min rep keeps only its (unverifiable) min-rep star
    *      link here, so that edge survives only if one of the doc pair's
    *      15 other bands resurfaces it in a small-enough bucket
    *      (probabilistic, not guaranteed — this is the cap's recall trade;
    *      droppedReps=0 means NOTHING was forgone, the ×100/×1000
    *      boilerplate rehearsal shape).
    *
    * Per-bucket emission is thus ≤ m + maxBucket²/2 instead of m²/2, and
    * connectivity for downstream [[dupComponents]] survives: every member
    * reaches its rep, and every rep reaches the bucket min. Lazy like
    * [[lshCandidates]]: the margin is observed by whichever action runs
    * the result. */
  def lshCandidatesCapped(sig: DataFrame, numHashes: Int, rowsPerBand: Int,
      maxBucket: Int = 64): DataFrame = {
    val (cands, cap) = lshCandidatesCappedCore(sig, numHashes, rowsPerBand,
      maxBucket)
    cap.observedOn(cands)
  }

  /** [[lshCandidatesCapped]] before its margin branch, plus the [[HotCap]]
    * whose counted band frame managed callers release
    * ([[minhashDupPairsCappedManaged]]). */
  private def lshCandidatesCappedCore(sig: DataFrame, numHashes: Int,
      rowsPerBand: Int, maxBucket: Int): (DataFrame, HotCap) = {
    val cap = new HotCap(signatureBandsWithFp(sig, numHashes, rowsPerBand),
      maxBucket, "lsh-cap")
    def pairsWithin(f: DataFrame) = f.toDF("da", "band", "bh")
      .join(f.toDF("db", "band", "bh"), Seq("band", "bh"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"))
    // rep = min(doc_id) of the group, so star pairs are already da < db
    val star = cap.hot.join(cap.reps, Seq("band", "bh", "fp"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("da"), col("doc_id").as("db"))
    // dropped reps star-link to the bucket's min rep (rank 1 under the
    // rep ordering): linear, deterministic, and no member ends up orphaned
    val repStar = cap.ranked.filter(col("rk") > maxBucket).join(
        cap.ranked.filter(col("rk") === 1)
          .select(col("band"), col("bh"), col("rep").as("da")),
        Seq("band", "bh"))
      .select(col("da"), col("rep").as("db"))
    (pairsWithin(cap.small).union(star).union(pairsWithin(cap.kept))
      .union(repStar).distinct(), cap)
  }

  /** The hot-bucket cap the three capped paths share
    * ([[lshCandidatesCapped]], [[incrementalDupPairsCapped]],
    * [[DedupIndex.probeIndexCapped]]), over fingerprinted band rows
    * `members` (doc_id, fp, band, bh).
    *
    * Bucket population is a WINDOW count over the (band, bh) partitioning,
    * not an aggregate joined back (q174 ×10 A/B: join-back 9.5 s / 11.9 M
    * shuffle records → window 6.4 s / 9.9 M), and the counted frame is
    * CACHED: without the cache each branch re-executes the band exchange —
    * per-branch column pruning pushes different projects under it, so
    * ReuseExchange never matches them (PlanSpec pins the cached shape:
    * exactly one band-table-sized exchange). It is corpus-sized on the
    * self-join path, in line with that path's shingle cache, and only the
    * batch-hit slice on the corpus-vs-batch paths. The owner releases
    * `counted`; the signatures under it are read once, by its build, so
    * no caller caches them (a second, nested cache built inside the
    * consuming job raised the x10 curation run's peak RSS from ~1.4 to
    * ~1.58 GB on 4 cores).
    *
    * Hot buckets collapse same-fingerprint members to min-id reps (`gm` =
    * group size) ranked by id; the first `maxBucket` reps are `kept`.
    *
    * The recall margin is one `Dataset.observe` per call, named by
    * [[graft.obs.Profile.observationName]] after `prefix`:
    * hotBuckets/hotMembers show what the fingerprint collapse absorbed (a
    * 100-copy boilerplate cluster can bound 469 M pairs to 84 M with ZERO
    * dropped reps — the ×100 rehearsal's shape); cappedBuckets/droppedReps
    * show what the rep cap forwent. All zero on a corpus with no hot
    * bucket. [[graft.obs.Record]] reports it. */
  private[operators] final class HotCap(members: DataFrame, maxBucket: Int,
      prefix: String) {
    import org.apache.spark.sql.expressions.Window
    private val bucket = Window.partitionBy(col("band"), col("bh"))
    val counted: DataFrame =
      members.withColumn("m", count(lit(1)).over(bucket)).cache()
    /** Members of buckets within the cap: (doc_id, band, bh). */
    val small: DataFrame = counted.filter(col("m") <= maxBucket)
      .select(col("doc_id"), col("band"), col("bh"))
    val hot: DataFrame = counted.filter(col("m") > maxBucket)
    val reps: DataFrame = hot.groupBy(col("band"), col("bh"), col("fp"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("gm"))
    val ranked: DataFrame = reps.withColumn("rk",
      row_number().over(bucket.orderBy(col("rep"))))
    /** Reps within the cap: (doc_id, band, bh). */
    val kept: DataFrame = ranked.filter(col("rk") <= maxBucket)
      .select(col("rep").as("doc_id"), col("band"), col("bh"))

    /** `out` plus a zero-row branch that carries the margin observation.
      * It belongs at the ROOT of the query that runs: AQE prunes a join or
      * aggregate over an empty stage, and an observation inside that stage
      * goes with it; a root Union keeps the branch even when `out` is
      * empty. */
    def observedOn(out: DataFrame): DataFrame = out.union(ranked
      .observe(graft.obs.Profile.observationName(prefix),
        count(when(col("rk") === 1, 1)).as("hotBuckets"),
        coalesce(sum(col("gm")), lit(0L)).as("hotMembers"),
        count(when(col("rk") === maxBucket + 1, 1)).as("cappedBuckets"),
        count(when(col("rk") > maxBucket, 1)).as("droppedReps"))
      .filter(col("rk") < 0)
      .select(out.schema.map(f => lit(0).cast(f.dataType).as(f.name)): _*))
  }

  /** Capped corpus-vs-batch candidates (da = corpus doc, db = batch doc),
    * shared by [[incrementalDupPairsCappedManaged]] and the capped
    * [[DedupIndex]] probe. `corpus` is (doc_id, fp, band, bh), `bb` the
    * batch bands (db, band, bh). The corpus side is restricted to buckets
    * the BATCH hits before any counting (broadcast semi on the batch's tiny
    * (band, bh) key set): counts stay exact — every member of a hit bucket
    * survives the semi — and the window never pays for buckets that could
    * not produce a candidate (the ×100 rehearsal: 7.2 M hot members, capped
    * probe 5.8 s vs uncapped 1.8 s before the semi). */
  private[operators] def cappedBatchCandidates(corpus: DataFrame,
      bb: DataFrame, maxBucket: Int, prefix: String): (DataFrame, HotCap) = {
    val cap = new HotCap(corpus.join(
      broadcast(bb.select(col("band"), col("bh")).distinct()),
      Seq("band", "bh"), "left_semi"), maxBucket, prefix)
    (cap.small.union(cap.kept).toDF("da", "band", "bh")
      .join(bb, Seq("band", "bh"))
      .select(col("da"), col("db")).distinct(), cap)
  }

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

  /** [[minhashDupPairs]] through the hot-bucket-capped candidate path —
    * output equals the uncapped pipeline whenever no band bucket exceeds
    * `maxBucket` members (the oracle gate), and stays bounded (star +
    * capped rep pairs per bucket) when boilerplate clusters would blow the
    * uncapped join up quadratically (at 100 TB the signatures live in the
    * persisted [[DedupIndex]] instead). */
  def minhashDupPairsCapped(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
      rowsPerBand: Int = 2, threshold: Double = 0.5,
      maxBucket: Int = 64): DataFrame =
    minhashDupPairsCappedManaged(docs, n, numHashes, rowsPerBand,
      threshold, maxBucket).result

  /** [[minhashDupPairsCapped]] with cache ownership: this path pins TWO
    * corpus-sized frames (shingles and the windowed band frame) that the
    * bare variant leaves pinned for the life of the session — fine for a
    * one-shot job, a leak for a long-lived session calling it per batch
    * (the [[ProbeHandle]] rationale). Materialize `result`, then
    * `close()`. */
  def minhashDupPairsCappedManaged(docs: DataFrame, n: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 2, threshold: Double = 0.5,
      maxBucket: Int = 64): ProbeHandle = {
    val sg = shingleSets(docs, n).cache()
    val (cands, cap) = lshCandidatesCappedCore(
      minhashSignatures(sg, numHashes), numHashes, rowsPerBand, maxBucket)
    new ProbeHandle(cap.observedOn(verifyCandidates(cands, sg, sg, threshold)),
      Seq(sg, cap.counted))
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

  /** [[incrementalDupPairs]] with the hot-bucket cap applied to the CORPUS
    * side of the band join — the ingest-time twin of
    * [[lshCandidatesCapped]]: a batch doc landing in a boilerplate bucket
    * must not fan out to every one of its 10 k corpus copies. Corpus
    * buckets with ≤ `maxBucket` members join exactly as the uncapped path
    * (output IDENTICAL when nothing is hot — the oracle gate); a hot
    * bucket pre-collapses same-fingerprint corpus members to their
    * min-doc_id representative and keeps at most `maxBucket` reps
    * (observed `lsh-cap-inc` margin, see [[HotCap]]). A batch doc that
    * would have matched a collapsed member still matches the member's
    * representative (identical shingle sets verify identically), so the
    * dup VERDICT per batch doc survives; only the redundant partner
    * enumeration is bounded. */
  def incrementalDupPairsCapped(corpus: DataFrame, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxBucket: Int = 64): DataFrame =
    incrementalDupPairsCappedManaged(corpus, batch, n, numHashes,
      rowsPerBand, threshold, maxBucket).result

  /** [[incrementalDupPairsCapped]] with cache ownership over the THREE
    * frames it pins (corpus+batch shingles, batch-hit window) — the
    * per-ingest call pattern is exactly the long-lived session the
    * [[ProbeHandle]] contract exists for. Materialize `result`, then
    * `close()`. */
  def incrementalDupPairsCappedManaged(corpus: DataFrame, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxBucket: Int = 64): ProbeHandle = {
    val csg = shingleSets(corpus, n).cache()
    val bsg = shingleSets(batch, n).cache()
    val bb = signatureBands(minhashSignatures(bsg, numHashes),
      numHashes, rowsPerBand).toDF("db", "band", "bh")
    val (cand, cap) = cappedBatchCandidates(
      signatureBandsWithFp(minhashSignatures(csg, numHashes), numHashes,
        rowsPerBand), bb, maxBucket, "lsh-cap-inc")
    new ProbeHandle(cap.observedOn(verifyCandidates(cand, csg, bsg, threshold)),
      Seq(csg, bsg, cap.counted))
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
    * edge list and takes the per-vertex minimum — one hash join plus one
    * map-side-combinable agg per round, both keyed on doc id. Rounds needed
    * = graph diameter; near-dup components are near-cliques (every similar
    * pair is its own edge), so 2-3 rounds converge — maxIters bounds
    * pathological chains. Each round materializes (cache + count) both to
    * detect convergence and to truncate lineage; at 100 TB you would
    * checkpoint every few rounds instead. Returns (v, comp). */
  def dupComponents(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .union(pairs.select(col("db").as("src"), col("da").as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("comp", col("v")).cache()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val viaEdges = edges.join(labels, edges("src") === labels("v"))
        .select(col("dst").as("v"), col("comp"))
      val updated = labels.select(col("v"), col("comp")).union(viaEdges)
        .groupBy(col("v")).agg(min(col("comp")).as("comp"))
        .cache()
      converged = updated.join(labels.withColumnRenamed("comp", "prev"), "v")
        .filter(col("comp") =!= col("prev")).isEmpty
      labels.unpersist()
      labels = updated
      iter += 1
    }
    labels
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
