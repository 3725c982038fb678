package graft

import graft.operators.Fts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot reads: a probe that overlaps an upsert returns exactly the
  * pre-batch or the post-batch index, never a mix. The upsert is parked
  * at its last step before the commit (the crash-point seam, interrupted
  * instead of killed), and then raced by a probe loop. */
class SnapshotReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val terms = Seq("table", "join", "scan", "data")

  private lazy val docs = Tables.documents(spark, TestSpark.sf0001)
    .select(col("doc_id"), col("text")).filter(col("doc_id") < 600)

  private def served(dir: String): Set[String] = rows(
    Fts.loadPostings(spark, dir, terms, nBuckets = 8))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.filter(col("word").isin(terms: _*))
      .select(col("word"), col("doc_id"), col("tf")).collect()
      .map(_.mkString("|")).toSet

  test("a probe started during an in-flight upsert returns exactly the pre-batch or the post-batch result") {
    val base = java.nio.file.Files.createTempDirectory("snapshot_read")
    val dir = base.resolve("idx").toString
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    // adds the %4==0 docs and re-crawls the %4==1 docs with changed text
    val b = docs.filter(col("doc_id") % 4 === 0)
      .unionByName(docs.filter(col("doc_id") % 4 === 1)
        .withColumn("text", concat(col("text"), lit(" data table"))))
    def upsert(): Unit =
      Fts.upsertPostingsIndex(b, dir, "doc_id", "text", nBuckets = 8)
    Fts.writePostingsIndex(Fts.positionalPostings(a, "doc_id", "text"), dir,
      nBuckets = 8)
    val pre = served(dir)
    val post = rows(Fts.positionalPostings(
      docs.filter(col("doc_id") % 4 > 1).unionByName(b), "doc_id", "text"))
    assert(pre != post && pre.nonEmpty, "the batch changes nothing served")

    // 1. a writer parked after every write of its batch, before its commit
    val marker = base.resolve("parked")
    sys.props("graft.crashpoint") = "fts.upsert.staged"
    sys.props("graft.crashpoint.marker") = marker.toString
    val parked = new Thread(() => scala.util.Try(upsert()))
    try {
      parked.start()
      val deadline = System.currentTimeMillis() + 120000
      while (!java.nio.file.Files.exists(marker) &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(java.nio.file.Files.exists(marker), "the writer never parked")
      assert(served(dir) == pre, "a staged, uncommitted batch is served")
      // a plan resolved now keeps its snapshot after later commits
      val early = Fts.loadPostings(spark, dir, terms, nBuckets = 8)
      parked.interrupt()
      parked.join(60000)
      assert(!parked.isAlive)
      sys.props -= "graft.crashpoint"; sys.props -= "graft.crashpoint.marker"
      assert(served(dir) == pre, "an abandoned attempt is served")

      // 2. a probe loop racing a complete upsert sees only the two states
      val writer = new Thread(() => upsert())
      writer.start()
      val seen = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
      while (writer.isAlive) seen += served(dir)
      writer.join()
      seen += served(dir)
      assert(seen.forall(s => s == pre || s == post),
        s"a probe saw a mixed index (${seen.count(s => s != pre && s != post)} " +
          s"of ${seen.size} probes)")
      assert(seen.last == post)
      assert(rows(early) == pre, "a plan resolved before the commit moved")
    } finally {
      sys.props -= "graft.crashpoint"; sys.props -= "graft.crashpoint.marker"
      parked.interrupt()
      TempDirs.rmTree(base)
    }
  }
}
