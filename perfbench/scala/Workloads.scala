package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.operators._
import graft.streaming.IngestHarness
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Everything a workload needs from the harness. */
final case class Ctx(dataDir: String, corpusDir: String, work: Path,
    out: Path, seed: Long, tracer: Tracer, collector: Collector)

/** One benchmark workload: set-up (timed once), a unit of work run in
  * a closed loop by one client thread, and the output checks. */
trait Workload {
  /** The workload's set-up on a fresh session (ingest: the IVF-PQ models). */
  def setup(spark: SparkSession): Unit

  /** One unit of work; returns each operation's key and latency in s. */
  def rep(spark: SparkSession, i: Int): Seq[(String, Double)]

  /** Checks outputs; returns the keys of failed operations. Checks the
    * Python side runs read the files written under `out`. */
  def check(spark: SparkSession): Seq[String]

  /** Workload-specific per-layer metrics, per unit of work, computed over
    * the traced reps whose spans are given. */
  def layers(spans: Seq[Span], reps: Int): Map[String, Double] = Map.empty

  /** Result rows one unit's hybrid read returned. */
  def hybridResults: Long = 0L

  /** Operation keys that failed while running (exceptions). */
  val failedOps = mutable.ArrayBuffer.empty[String]
}

object Workload {
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def spanMs(spans: Seq[Span], p: String => Boolean): Double =
    spans.filter(s => p(s.name)).map(s => (s.end - s.start) / 1e6).sum

  /** Files and bytes under `p` (0 when absent). */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally st.close()
    }

  def rm(p: Path): Unit = graft.TempDirs.rmTree(p)

  def seeded[T](xs: Seq[T], seed: Long): Seq[T] =
    new scala.util.Random(seed).shuffle(xs)
}

import Workload._

/** The three checkpointed index-maintenance drains, composed as q145
  * (dedup signature index), q154 (IVF-PQ) and q160 (FTS postings) compose
  * them, each over a fresh index per unit of work, then one hybrid read of
  * the maintained FTS and IVF-PQ indexes. An operation is one micro-batch
  * trigger, or the read. */
final class Ingest(c: Ctx) extends Workload {
  private var cents: Array[Array[Double]] = _
  private var books: Array[Array[Array[Double]]] = _
  private var lastBase: Path = _
  // per rep: bytes of new index files seen after each fold, drained input
  // bytes and slice-staging time; summed over traced reps only
  private var repWritten, repDrained = 0L
  private var repStageMs = 0.0
  private var written, drained = 0L
  private var stageMs = 0.0
  private var indexFiles = (0L, 0L)
  private val tracedTriggers = mutable.ArrayBuffer.empty[Trigger]

  private val names = seeded(Seq("q145_stream_ingest_dedup",
    "q154_stream_ann_ingest", "q160_stream_fts_ingest"), c.seed)
  private val terms = Seq("table", "join", "scan")
  private var qvec: Array[Float] = _
  private var hybridRows = Seq.empty[List[Any]]

  /** The IVF-PQ models the q154 drain encodes with: 8 coarse lists and 8
    * sub-quantizers of 16 codes, each the engine trainer's deterministic
    * lowest-id initialisation (zero refinement rounds, which would add
    * some 20 s of training jobs per run and change no drain's work). The
    * hybrid read's query vector is a seeded vector row. */
  def setup(spark: SparkSession): Unit = {
    val e = Tables.embeddings(spark, c.dataDir)
    cents = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, nIters = 0)
    books = Pq.trainCodebooks(e, "embedding", "vec_id", m = 8, k = 16,
      iters = 0)
    val id = new scala.util.Random(c.seed).nextInt(e.count().toInt)
    qvec = e.filter(col("vec_id") === id).select(col("embedding")).head
      .getSeq[Float](0).toArray
  }

  override def hybridResults: Long = hybridRows.size

  /** The drained corpus as the FTS index holds it after the q160 drain. */
  private def finalDocs(spark: SparkSession) =
    Tables.documents(spark, c.dataDir).select(col("doc_id"),
      when(col("doc_id") % 5 === 1, concat(col("text"), lit(" rev2 table")))
        .otherwise(col("text")).as("text"))

  private def annLeg(spark: SparkSession, root: Path) =
    IvfPq.probeIvfPqIndex(spark, root.resolve("ann/idx").toString,
        "embedding", "vec_id", qvec, 20, Similarity.probeLists(qvec, cents, 2),
        books, rerank = 64)
      .select(col("vec_id").as("doc_id"), col("sim").as("s"))

  /** One hybrid read of the freshly maintained FTS and IVF-PQ indexes. */
  private def hybridRead(spark: SparkSession, root: Path): Array[Row] = {
    val t = c.tracer
    t.span("operators.hybrid") {
      val plan = t.span("operators.hybrid.plan") {
        Serving.fuse(Serving.bm25Leg(Fts.loadPostings(spark,
            root.resolve("fts/postings").toString, terms, nBuckets = 16),
          finalDocs(spark), terms), annLeg(spark, root))
      }
      t.span("operators.hybrid.execute")(plan.collect())
    }
  }

  /** The index's own directories: `idx` and its `idx_*` siblings. */
  private def indexDirs(idx: Path): Seq[Path] =
    if (!Files.exists(idx.getParent)) Nil
    else {
      val st = Files.list(idx.getParent)
      try st.iterator.asScala.filter(_.getFileName.toString
        .startsWith(idx.getFileName.toString)).toSeq
      finally st.close()
    }

  /** Counts index files not seen (at their current size) before. */
  private val seen = mutable.Map.empty[Path, Long]
  private def observe(idx: Path): Unit = if (c.tracer.enabled)
    indexDirs(idx).foreach { d =>
      val st = Files.walk(d)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val sz = Files.size(f)
        if (!seen.get(f).contains(sz)) { repWritten += sz; seen(f) = sz }
      }
      finally st.close()
    }

  /** One checkpointed drain; each micro-batch's `fold` is recorded as span
    * `op` under the drain's span (the fold runs on the stream thread). */
  private def drain(spark: SparkSession, base: Path, op: String,
      slices: Seq[DataFrame], idx: Path, fold: Dataset[Row] => Unit): Unit = {
    val t = c.tracer
    t.span("streaming.drain") {
      val parent = t.current
      val t0 = System.nanoTime()
      val starts0 = c.collector.streamStarts.size
      IngestHarness.drain(spark, base, slices, batch =>
        t.span(op, parent) { fold(batch); observe(idx) })
      val st = c.collector.streamStarts
      if (st.size > starts0) repStageMs += (st(starts0) - t0) / 1e6
    }
    repDrained += du(base.resolve("in"))._2
  }

  /** The three drains under `root`. */
  private def drains(spark: SparkSession, root: Path): Unit = {
    val docs = Tables.documents(spark, c.dataDir)
      .select(col("doc_id"), col("text"))
    val e = Tables.embeddings(spark, c.dataDir)
    names.foreach {
      case "q145_stream_ingest_dedup" =>
        val base = root.resolve("dedup")
        val idx = base.resolve("idx")
        val pairs = base.resolve("pairs").toString
        drain(spark, base, "operators.dedup_index.ingest_batch",
          (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i)), idx,
          batch => DedupIndex.ingestBatch(spark, idx.toString, batch)
            .write.mode("append").parquet(pairs))
      case "q154_stream_ann_ingest" =>
        val base = root.resolve("ann")
        val idx = base.resolve("idx")
        val evens = e.filter(col("vec_id") % 2 === 0)
        drain(spark, base, "operators.ivfpq.upsert", Seq(
            evens.withColumn("embedding", reverse(col("embedding")))
              .unionByName(e.filter(col("vec_id") % 4 === 1)),
            e.filter(col("vec_id") % 4 === 3),
            evens), idx,
          batch => IvfPq.upsertIvfPqIndex(batch, "embedding", "vec_id",
            cents, books, idx.toString))
      case "q160_stream_fts_ingest" =>
        val base = root.resolve("fts")
        val idx = base.resolve("postings")
        drain(spark, base, "operators.fts.upsert", Seq(
            docs.filter(col("doc_id") % 5 =!= 2),
            docs.filter(col("doc_id") % 5 === 2),
            docs.filter(col("doc_id") % 5 === 1)
              .withColumn("text", concat(col("text"), lit(" rev2 table")))),
          idx,
          batch => Fts.upsertPostingsIndex(batch, idx.toString, "doc_id",
            "text", nBuckets = 16))
    }
  }

  def rep(spark: SparkSession, i: Int): Seq[(String, Double)] = {
    Option(lastBase).foreach(rm)
    lastBase = c.work.resolve(s"ingest-rep$i")
    rm(lastBase)
    seen.clear()
    repWritten = 0; repDrained = 0; repStageMs = 0
    c.collector.triggers.clear()
    var readS = 0.0
    try {
      drains(spark, lastBase)
      readS = timed { hybridRows = Serving.canon(hybridRead(spark, lastBase)) }
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] ingest rep $i failed: $e")
        failedOps += s"rep$i"
    }
    org.apache.spark.BusDrain.await(spark.sparkContext)
    val trig = c.collector.triggers.asScala.toSeq.filter(_.rows > 0)
    if (c.tracer.enabled) {
      tracedTriggers ++= trig
      written += repWritten; drained += repDrained; stageMs += repStageMs
      indexFiles = Seq("dedup/idx", "ann/idx", "fts/postings")
        .flatMap(p => indexDirs(lastBase.resolve(p))).map(du)
        .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    }
    // streams run one after another, in `names` order
    val drainOf = trig.map(_.run).distinct.zip(names).toMap
    trig.map(t => drainOf(t.run) ->
      t.durations.getOrElse("triggerExecution", 0L) / 1e3) :+
      ("hybrid_read" -> readS)
  }

  /** Writes each drain's query output (as q145/q154/q160 return it) and
    * the oracle SQL for the Python check. */
  def check(spark: SparkSession): Seq[String] = {
    val dir = c.out.resolve("results")
    val e = Tables.embeddings(spark, c.dataDir)
    val q1 = e.filter(col("vec_id") === 1).select(col("embedding")).head
      .getSeq[Float](0).toArray
    val outs = Map(
      "q145_stream_ingest_dedup" ->
        spark.read.parquet(lastBase.resolve("dedup/pairs").toString),
      "q154_stream_ann_ingest" ->
        spark.read.parquet(lastBase.resolve("ann/idx").toString + "_refine")
          .select(col("vec_id"), round(graft.functions.CosineSimilarity(
            col("embedding"), array(q1.map(lit): _*)), 4).as("sim")),
      "q160_stream_fts_ingest" ->
        Fts.loadPostings(spark, lastBase.resolve("fts/postings").toString,
            terms, nBuckets = 16)
          .filter(col("word").isin(terms: _*))
          .select(col("word"), col("doc_id"), col("tf"),
            array_join(transform(col("positions"), p => p.cast("string")),
              ",").as("positions")))
    outs.foreach { case (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(n).toString)
    }
    Oracle.writeSql(c.out.resolve("oracle_sql.json"), outs.keys.toSeq)
    // the hybrid read: the BM25 leg against the unindexed postings of the
    // drained corpus, each ANN hit's similarity against the raw vector, the
    // fused top 10 against the fusion of those legs
    def rows(df: DataFrame) = Serving.canon(df.collect())
    val docs = finalDocs(spark)
    val rawBm = Serving.bm25Leg(
      Fts.positionalPostings(docs, "doc_id", "text"), docs, terms)
    val ann = annLeg(spark, lastBase)
    val annIds = ann.collect().map(_.getLong(0)).toSeq
    val exactAnn = e.filter(col("vec_id").isin(annIds: _*))
      .select(col("vec_id").as("doc_id"), round(graft.functions
        .CosineSimilarity(col("embedding"), array(qvec.map(lit): _*)), 4)
        .as("s"))
    val ok = rows(Serving.bm25Leg(Fts.loadPostings(spark,
        lastBase.resolve("fts/postings").toString, terms, nBuckets = 16),
        docs, terms)) == rows(rawBm) &&
      rows(ann) == rows(exactAnn) && annIds.nonEmpty &&
      hybridRows == rows(Serving.fuse(rawBm, exactAnn))
    if (!ok) System.err.println("[perfbench] check failed: hybrid_read")
    if (ok) Nil else Seq("hybrid_read")
  }

  override def layers(spans: Seq[Span], reps: Int): Map[String, Double] = {
    def dur(k: String) = tracedTriggers.map(_.durations.getOrElse(k, 0L))
      .sum.toDouble / reps
    Map(
      "streaming.stage_ms" -> stageMs / reps,
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "operators.dedup_index.ingest_batch_ms" ->
        spanMs(spans, _ == "operators.dedup_index.ingest_batch") / reps,
      "operators.fts.upsert_ms" ->
        spanMs(spans, _ == "operators.fts.upsert") / reps,
      "operators.ivfpq.upsert_ms" ->
        spanMs(spans, _ == "operators.ivfpq.upsert") / reps,
      "operators.index.bytes_written" -> written.toDouble / reps,
      "operators.index.write_amp" ->
        (if (drained > 0) written.toDouble / drained else 0.0),
      "operators.index.files" -> indexFiles._1.toDouble,
      "operators.index.bytes" -> indexFiles._2.toDouble)
  }
}

/** The hybrid read the ingest workload issues (the q148 shape). */
object Serving {
  /** Rows as sorted value lists, for order-insensitive comparison. */
  def canon(rows: Array[Row]): Seq[List[Any]] =
    rows.map(_.toSeq.toList).toSeq.sortBy(_.toString)

  /** BM25 scores over `postings`, document lengths from `docs`. */
  def bm25Leg(postings: DataFrame, docs: DataFrame, terms: Seq[String]) =
    Fts.bm25Scores(postings, Fts.docLengths(docs, "doc_id", "text"), terms)
      .select(col("doc_id"), round(col("bm25"), 4).as("s"))

  /** Reciprocal-rank fusion of the two legs' top 20; the top 10. */
  def fuse(bm: DataFrame, ann: DataFrame): DataFrame =
    Hybrid.rrfFuse(Seq(
        "lex" -> Hybrid.topRanks(bm, "doc_id", "s", 20),
        "sem" -> Hybrid.topRanks(ann, "doc_id", "s", 20)),
      "doc_id")
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
}

/** A batch curation DAG over the seeded x10 near-duplicate corpus; every
  * stage writes its output and the next stage reads it back. One unit of
  * work is one full pipeline; an operation is one stage. */
final class Curate(c: Ctx) extends Workload {
  private var last: Path = _

  /** Nothing to build: the corpus is read lazily by the first stage. */
  def setup(spark: SparkSession): Unit = ()

  private def corpus(spark: SparkSession) =
    spark.read.parquet(s"${c.corpusDir}/documents.parquet")

  private def pipeline(spark: SparkSession, base: Path,
      docs: DataFrame): Seq[(String, Double)] = {
    val t = c.tracer
    def out(n: String) = base.resolve(n).toString
    def stage(name: String)(body: => Unit): (String, Double) =
      name -> t.span(name)(timed(body))
    Seq(
      stage("operators.dedup.pairs") {
        val h = Dedup.minhashDupPairsCappedManaged(
          docs.select(col("doc_id"), col("text")), n = 3, numHashes = 32,
          rowsPerBand = 2, threshold = 0.5, maxBucket = 64)
        try h.result.write.parquet(out("pairs")) finally h.close()
      },
      stage("operators.dedup.components") {
        Dedup.dupComponents(spark.read.parquet(out("pairs")))
          .write.parquet(out("components"))
      },
      stage("operators.curation.survivors") {
        val dropped = spark.read.parquet(out("components"))
          .filter(col("v") =!= col("comp")).select(col("v").as("doc_id"))
        docs.join(dropped, Seq("doc_id"), "left_anti")
          .write.parquet(out("survivors"))
      },
      stage("operators.curation.funnel") {
        Curation.funnelFlags(spark.read.parquet(out("survivors")),
            minToks = 20, maxToks = 80, maxRepetition = 0.05)
          .select(col("doc_id"), col("p_len"), col("p_rep"), col("p_dedup"))
          .write.parquet(out("flags"))
      },
      stage("operators.curation.decontam") {
        Curation.contaminationCounts(gated(spark, base),
            docs.filter(col("doc_id") % 10 === 0), n = 5)
          .write.parquet(out("contam"))
      },
      stage("operators.curation.shards") {
        val contaminated = spark.read.parquet(out("contam"))
          .filter(col("n_contam").cast("double") / col("n_sh") >= 0.5)
          .select(col("doc_id"))
        val clean = gated(spark, base)
          .join(contaminated, Seq("doc_id"), "left_anti")
        val h = Curation.balancedShardsManaged(clean, 16)
        try h.result.write.parquet(out("shards")) finally h.close()
      })
  }

  private def gated(spark: SparkSession, base: Path) =
    spark.read.parquet(base.resolve("survivors").toString)
      .join(spark.read.parquet(base.resolve("flags").toString)
        .filter(col("p_len") && col("p_rep") && col("p_dedup"))
        .select(col("doc_id")), Seq("doc_id"))

  def rep(spark: SparkSession, i: Int): Seq[(String, Double)] = {
    Option(last).foreach(rm)
    last = c.work.resolve(s"curate-rep$i")
    rm(last)
    try pipeline(spark, last, corpus(spark))
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] curate rep $i failed: $e")
        failedOps += s"rep$i"
        Seq(s"rep$i" -> 0.0)
    }
  }

  /** Stage outputs are checked on the Python side; point it at them. */
  def check(spark: SparkSession): Seq[String] = {
    Files.writeString(c.out.resolve("stages.txt"), last.toString)
    Nil
  }

  override def layers(spans: Seq[Span], reps: Int): Map[String, Double] = {
    def ms(n: String) = spanMs(spans, _ == s"operators.$n") / reps
    Map(
      "operators.dedup.pairs_ms" -> ms("dedup.pairs"),
      "operators.dedup.components_ms" -> ms("dedup.components"),
      "operators.curation.funnel_ms" -> ms("curation.funnel"),
      "operators.curation.decontam_ms" -> ms("curation.decontam"),
      "operators.curation.shards_ms" -> ms("curation.shards"))
  }
}

/** The oracle SQL the Python side checks the ingest outputs against. */
object Oracle {
  /** `name -> DuckDB SQL` for the given queries, as JSON. */
  def writeSql(p: Path, names: Seq[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    val sql = SparkEntry.oracleSql
    Files.writeString(p, names.map(n => s"${q(n)}: ${q(sql(n))}")
      .mkString("{", ",", "}"))
  }
}
