package graft

import graft.operators.Fts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver JVM for [[FtsCrashRecoverySpec]]: runs the q160-shaped 3-slice
  * streaming FTS ingest (bulk build → append batch → re-crawl batch)
  * under `<base>/stream` with the postings index at `<base>/postings`.
  * With `-Dgraft.crashpoint=<point>` set (an `fts.upsert.*` step), the
  * first merge-branch upsert (batch 1) parks there so the parent can
  * SIGKILL this process; without it, the drain runs to
  * completion (resuming from the checkpoint if one exists) and writes
  * `<base>/done`. */
object FtsCrashChild {

  /** The corpus slices: %5!=2 docs' original text bulk-builds, %5==2
    * appends, %5==1 re-crawls with revised text (q160's shape, capped to
    * 2000 docs so the child JVM stays small). */
  private def corpus(s: SparkSession): DataFrame =
    Tables.documents(s, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 2000)

  private def slices(s: SparkSession): Seq[DataFrame] = {
    val all = corpus(s)
    Seq(
      all.filter(col("doc_id") % 5 =!= 2),
      all.filter(col("doc_id") % 5 === 2),
      all.filter(col("doc_id") % 5 === 1)
        .withColumn("text", concat(col("text"), lit(" rev2 table"))))
  }

  /** What the index must equal after a complete drain — used by the
    * parent for the heal-to-scratch assertion. */
  def finalCorpus(s: SparkSession): DataFrame =
    corpus(s).withColumn("text",
      when(col("doc_id") % 5 === 1, concat(col("text"), lit(" rev2 table")))
        .otherwise(col("text")))

  def main(args: Array[String]): Unit = {
    val base = java.nio.file.Paths.get(args(0))
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[4]"), "4", "fts-crash-child")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val idx = base.resolve("postings").toString
    graft.streaming.IngestHarness.drain(spark, base.resolve("stream"),
      slices(spark),
      batch => Fts.upsertPostingsIndex(batch, idx, "doc_id", "text",
        nBuckets = 16))
    java.nio.file.Files.write(base.resolve("done"),
      "ok".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(0)
  }
}
