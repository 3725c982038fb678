package graft

import org.apache.spark.sql.functions._

/** Dev-only scale-rehearsal main (not part of the driver contract):
  * builds the persisted LSH and dedup-signature indexes from a
  * (replicated) SF dir and times FIXED-SIZE probes against them — the
  * sublinearity evidence the ×N rehearsals record in PERF.md: per-probe
  * cost must track batch size and bucket geometry, not corpus size,
  * while the brute-force scan it replaces grows linearly. Prints one
  * JSON line with build time, median probe time, brute-scan time, and
  * corpus sizes, for side-by-side runs at ×10 / ×100.
  *
  * Usage: runMain graft.Rehearsal <sfDir>
  */
object Rehearsal {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.local("graft-rehearsal")
    spark.sparkContext.setLogLevel("WARN")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    // --- LSH vector index: single-vector probe vs brute scan ---
    val e = Tables.embeddings(spark, dir).cache()
    val nVec = e.count()
    val planes = operators.Similarity.hyperplanes(64, 6)
    val base = TempDirs.scratchAtExit("rehearsal")
    val lshPath = base.resolve("lsh").toString
    val (_, lshBuild) = time(operators.LshIndex.writeLshIndex(
      e.select(col("vec_id"), col("embedding")), "embedding", "vec_id",
      planes, lshPath))
    val q = e.filter(col("vec_id") === 5).select(col("embedding"))
      .head.getSeq[Float](0).toArray
    val qv = array(q.map(lit): _*)
    val probeTimes = (1 to 6).map(_ => time(
      operators.LshIndex.probeLshIndex(spark, lshPath, "embedding",
        "vec_id", q, 10, planes, radius = 1).collect())._2)
    val bruteTimes = (1 to 3).map(_ => time(
      e.select(col("vec_id"),
          graft.functions.CosineSimilarity(col("embedding"), qv).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10).collect())._2)

    // --- dedup signature index: fixed 500-doc batch probe ---
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 1)
    val nCorpus = corpus.count()
    val batch = docs.filter(col("doc_id") % 10 === 1)
      .orderBy(col("doc_id")).limit(500).cache()
    batch.count()
    val dedupPath = base.resolve("dedup").toString
    val (_, dedupBuild) = time(
      operators.DedupIndex.writeSignatureIndex(corpus, dedupPath))
    val dedupProbes = (1 to 3).map { _ =>
      time {
        val h = operators.DedupIndex.probeIndexManaged(spark, dedupPath,
          batch)
        val n = h.result.count(); h.close(); n
      }
    }
    val pairCount = dedupProbes.head._1
    // the capped probe (the ingestBatch default) on the same batch: on a
    // boilerplate-heavy replica the fingerprint collapse should bound the
    // fan-out the uncapped numbers above pay in full
    val cappedProbes = (1 to 3).map { _ =>
      time {
        val h = operators.DedupIndex.probeIndexCappedManaged(spark,
          dedupPath, batch)
        val n = h.result.count(); h.close(); n
      }
    }
    val cappedPairs = cappedProbes.head._1

    println(f"""{"dir":"$dir","nVec":$nVec,"nCorpusDocs":$nCorpus,""" +
      f""""lshBuildSec":$lshBuild%.2f,""" +
      f""""lshProbeSec":${median(probeTimes.drop(1))}%.3f,""" +
      f""""bruteScanSec":${median(bruteTimes)}%.3f,""" +
      f""""dedupBuildSec":$dedupBuild%.2f,""" +
      f""""dedupProbe500Sec":${median(dedupProbes.map(_._2))}%.2f,""" +
      f""""dedupProbePairs":$pairCount,""" +
      f""""cappedProbe500Sec":${median(cappedProbes.map(_._2))}%.2f,""" +
      f""""cappedProbePairs":$cappedPairs}""")
    spark.stop()
  }
}
