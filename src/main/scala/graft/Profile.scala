package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.obs.Profile.{nodes, str}
import graft.operators.{DedupIndex, Fts, IvfPq, LshIndex, Pq, ProbeHandle, Similarity}

/** Dev profiler (outside the Verify/Bench contract): runs engine work as
  * [[obs.Profile]] units and prints one JSON line, each unit's record
  * attached as `"profile"`. Modes:
  *  - `drain`: the q145/q154/q160 streaming index drains;
  *  - `plan [q1,q2,...]` (default: the bench set): AQE's formatted final
  *    plans (initial plans included) on stderr, per-exchange JSON
  *    (`diag_shuffle.json`); SPARK_GRAFT_EXPLAIN_CONF="k=v;k=v" sets
  *    session confs first (e.g. a rule off, for a before/after pair);
  *  - `stages [prefix]`: q03/q05/q78/q119 cumulative sub-plans, each
  *    collapsed by a global aggregate (DuckDB twins: decompose_duckdb.py);
  *  - `probes [w1 w2 w3]`: FTS/IVF-PQ/LSH/dedup index builds, then probe
  *    walls, which must track the probed lists, not the corpus.
  * Usage: runMain graft.Profile <drain|plan|stages|probes> <sfDir> [args]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Profile <drain|plan|stages|probes> <sfDir> [args]")
    val Array(mode, dir, rest @ _*) = args
    val spark = GraftSession.local(s"graft-profile-$mode")
    spark.sparkContext.setLogLevel("WARN")
    val prof = new obs.Profile(spark)
    println(mode match {
      case "drain" => drain(spark, prof, dir)
      case "plan" => plan(spark, prof, dir, rest.flatMap(_.split(",")))
      case "stages" => stages(spark, prof, dir, rest.headOption)
      case "probes" => probes(spark, prof, dir, rest)
      case other => throw new IllegalArgumentException(
        s"mode must be drain|plan|stages|probes, got '$other'")
    })
    spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def drain(spark: SparkSession, prof: obs.Profile, dir: String): String = {
    val nDocs = Tables.documents(spark, dir).count()
    val nVecs = Tables.embeddings(spark, dir).count()
    val rows = Seq(
      ("q145_stream_ingest_dedup", nDocs),
      ("q154_stream_ann_ingest", nVecs * 3 / 2),
      ("q160_stream_fts_ingest", nDocs + nDocs / 5)).map { case (name, n) =>
      // rowsDrained: every micro-batch's input (q154 re-delivers the evens)
      val (out, r) = prof(name)(SparkEntry.queries(name)(spark, dir).count())
      f"""{"loop":"$name","drainSec":${r.wallMs / 1e3}%.2f,""" +
        f""""rowsDrained":$n,"rowsPerSec":${n * 1e3 / r.wallMs}%.0f,""" +
        s""""outputRows":$out,"profile":${r.json}}"""
    }
    s"""{"dir":"$dir","nDocs":$nDocs,"nVecs":$nVecs,"loops":[${rows.mkString(",")}]}"""
  }

  private def plan(spark: SparkSession, prof: obs.Profile, dir: String,
      names: Seq[String]): String = {
    sys.env.get("SPARK_GRAFT_EXPLAIN_CONF").foreach(_.split(";").foreach {
      kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k.trim, v.trim)
    })
    val qs = (if (names.nonEmpty) names
      else SparkEntry.benchQueries.map(_.name)).map { name =>
      // built outside the unit: actions the query runs while being built
      // (e.g. a collected lookup set) are not part of its plan
      val df = SparkEntry.queries(name)(spark, dir)
      val (_, r) = prof(name)(noop(df))
      System.err.println(s"\n########## $name ##########")
      r.plans.foreach(qe => System.err.println(
        qe.explainString(ExplainMode.fromString("formatted"))))
      val ex = r.exchanges.map(e => s"""{"records":${e.records},""" +
        s""""bytes":${e.bytes},"child":${str(e.child)},"node":${str(e.node)}}""")
      val joins = r.plans.flatMap(qe => nodes(qe.executedPlan)).map(_.nodeName)
        .filter(_.toLowerCase.contains("join"))
      s"""${str(name)}:{"exchanges":${ex.mkString("[", ",", "]")},""" +
        s""""joins":${joins.map(str).mkString("[", ",", "]")},"profile":${r.json}}"""
    }
    qs.mkString(s"""{"sf":${str(dir)},"queries":{""", ",", "}}")
  }

  private def stages(spark: SparkSession, prof: obs.Profile, dir: String,
      prefix: Option[String]): String = {
    def li = Tables.lineitem(spark, dir)
    def emb = Tables.embeddings(spark, dir)
    def declared(q: String) = () => SparkEntry.queries(q)(spark, dir)
    val n = count(lit(1)).as("n")
    val rev = sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    val liScan = () => li.agg(n, rev.as("r"))
    def withLi(orders: DataFrame) =
      orders.join(li, col("o_orderkey") === col("l_orderkey")).agg(n, rev.as("r"))
    def custOrders(cust: DataFrame) = cust.join(Tables.orders(spark, dir),
      col("c_custkey") === col("o_custkey"))
    val building = custOrders(Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING"))
    def asia = custOrders(Tables.customer(spark, dir).join(
      broadcast(Tables.nation(spark, dir).join(broadcast(Tables.region(
        spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))),
      col("c_nationkey") === col("n_nationkey")))
    // keys pmod'd before the sum: the x1000 replica's offset keys reach
    // ~1e12 and a raw 600M-row key sum overflows Long under ANSI mode
    def pm(c: String) = sum(pmod(col(c), lit(1000000L)))
    val terms = Seq("table", "join", "scan")
    val all: Seq[(String, () => DataFrame)] = Seq(
      "q03_a_scan_li" -> liScan,
      "q03_b_custord_join" -> (() => building.agg(n)),
      "q03_c_fulljoin_agg" -> (() => withLi(building)),
      "q03_d_declared" -> declared("q03_top_orders"),
      "q05_a_scan_li" -> liScan,
      "q05_b_custord_join" -> (() => asia.agg(n)),
      "q05_c_li_join" -> (() => withLi(asia)),
      "q05_d_declared" -> declared("q05_nation_revenue"),
      "q78_a_scan_li" -> (() =>
        li.agg(n, pm("l_partkey").as("pk"), pm("l_suppkey").as("sk"))),
      "q78_b_join" -> (() =>
        li.join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
          .filter(!col("p_type").like("%_2%")).agg(n, pm("l_suppkey").as("sk"))),
      "q78_c_declared" -> declared("q78_supplier_cnt"),
      "q119_a_postings" -> (() => Fts.positionalPostings(Tables.documents(
        spark, dir), "doc_id", "text").filter(col("word").isin(terms: _*))
        .agg(n, sum(col("tf")).as("tf"))),
      "q119_b_lex" -> (() => {
        val d = Tables.documents(spark, dir)
        Fts.lexicalScores(Fts.positionalPostings(d, "doc_id", "text"),
          Fts.docLengths(d, "doc_id", "text"), terms).agg(n, sum(col("lex")).as("s"))
      }),
      "q119_c_sem" -> (() => emb.crossJoin(broadcast(
          emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))))
        .select(graft.functions.CosineSimilarity(col("embedding"), col("qe"))
          .as("sem")).agg(n, sum(col("sem")).as("s"))),
      "q119_d_declared" -> declared("q119_hybrid_rank"))
    val rows = all.filter { case (s, _) => prefix.forall(s.startsWith) }
      .map { case (name, f) =>
        noop(f()) // warm-up: file listing + codegen
        val (_, r) = prof(name)(noop(f()))
        f"""{"stage":"$name","sec":${r.wallMs / 1e3}%.3f,"shuffleRecords":""" +
          s"""${r.shuffleRecords},"shuffleBytes":${r.shuffleBytes},"profile":${r.json}}"""
      }
    s"""{"dir":"$dir","stages":[${rows.mkString(",")}]}"""
  }

  private def probes(spark: SparkSession, prof: obs.Profile, dir: String,
      words: Seq[String]): String = {
    // n profiled runs of `f`: the first run's result and the median wall
    // (s) of the runs after the first `cold` ones
    def runs[A](name: String, n: Int, cold: Int = 0)(f: => A): (A, Double) = {
      val rs = (1 to n).map(_ => prof(name)(f))
      val walls = rs.drop(cold).map(_._2.wallMs / 1e3).sorted
      (rs.head._1, walls(walls.size / 2))
    }
    val base = TempDirs.scratchAtExit("probes")

    // FTS postings: q181's phrase served from the term-bucket-pruned index;
    // index probes run 6 times, the first (cold) one untimed
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val phrase = if (words.nonEmpty) words else Seq("big", "order", "scan")
    val (_, ftsBuild) = runs("fts.build", 1)(Fts.writePostingsIndex(
      Fts.positionalPostings(docs, "doc_id", "text"), s"$base/postings",
      nBuckets = 64))
    val (hits, ftsT) = runs("fts.probe", 6, cold = 1)(Fts.phraseQuery(Fts.loadPostings(
      spark, s"$base/postings", phrase, nBuckets = 64), phrase).collect())

    // IVF-PQ (8 lists, m=8 k=16 books, rerank 64) and LSH over all vectors
    val e = Tables.embeddings(spark, dir).cache()
    val nVecs = e.count()
    def vec(id: Int) = e.filter(col("vec_id") === id).select(col("embedding"))
      .head.getSeq[Float](0).toArray
    val ((cents, books), train) = runs("ivfpq.train", 1)((
      Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 2),
      Pq.trainCodebooks(e, "embedding", "vec_id", m = 8, k = 16)))
    val (_, pqBuild) = runs("ivfpq.build", 1)(IvfPq.writeIvfPqIndex(
      e, "embedding", "vec_id", cents, books, s"$base/ivfpq"))
    val q1 = vec(1)
    val (_, pqT) = runs("ivfpq.probe", 6, cold = 1)(IvfPq.probeIvfPqIndex(spark,
      s"$base/ivfpq", "embedding", "vec_id", q1, 10, 0 until 8, books,
      rerank = 64).collect())
    val planes = Similarity.hyperplanes(64, 6)
    val (_, lshBuild) = runs("lsh.build", 1)(LshIndex.writeLshIndex(
      e.select(col("vec_id"), col("embedding")), "embedding", "vec_id",
      planes, s"$base/lsh"))
    val q5 = vec(5)
    val (_, lshT) = runs("lsh.probe", 6, cold = 1)(LshIndex.probeLshIndex(spark,
      s"$base/lsh", "embedding", "vec_id", q5, 10, planes, radius = 1).collect())
    val (_, bruteT) = runs("brute.scan", 3)(e.select(col("vec_id"),
        graft.functions.CosineSimilarity(col("embedding"),
          array(q5.map(lit): _*)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10).collect())
    e.unpersist()

    // dedup signatures: a fixed 500-doc batch probed against the rest,
    // uncapped, then capped (the ingestBatch default): on a boilerplate-
    // heavy replica the fingerprint collapse bounds the capped fan-out
    val corpus = docs.filter(col("doc_id") % 10 =!= 1)
    val nCorpus = corpus.count()
    val batch = docs.filter(col("doc_id") % 10 === 1)
      .orderBy(col("doc_id")).limit(500).cache()
    batch.count()
    val (_, dedupBuild) = runs("dedup.build", 1)(
      DedupIndex.writeSignatureIndex(corpus, s"$base/dedup"))
    def dedupProbe(probe: (SparkSession, String, DataFrame) => ProbeHandle) =
      runs("dedup.probe", 3) {
        val h = probe(spark, s"$base/dedup", batch)
        try h.result.count() finally h.close()
      }
    val (pairs, dedupT) = dedupProbe(DedupIndex.probeIndexManaged(_, _, _))
    val (cappedPairs, cappedT) = dedupProbe(DedupIndex.probeIndexCappedManaged(_, _, _))

    f"""{"dir":"$dir","nDocs":$nDocs,"nVecs":$nVecs,"nVec":$nVecs,""" +
      f""""nCorpusDocs":$nCorpus,"ftsBuildSec":$ftsBuild%.2f,"ftsProbeSec":$ftsT%.3f,""" +
      f""""ftsProbeRows":${hits.length},"ivfTrainSec":$train%.2f,""" +
      f""""ivfpqBuildSec":$pqBuild%.2f,"ivfpqProbeSec":$pqT%.3f,""" +
      f""""lshBuildSec":$lshBuild%.2f,"lshProbeSec":$lshT%.3f,""" +
      f""""bruteScanSec":$bruteT%.3f,"dedupBuildSec":$dedupBuild%.2f,""" +
      f""""dedupProbe500Sec":$dedupT%.2f,"dedupProbePairs":$pairs,""" +
      f""""cappedProbe500Sec":$cappedT%.2f,"cappedProbePairs":$cappedPairs}"""
  }
}
