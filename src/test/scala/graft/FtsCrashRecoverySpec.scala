package graft

import graft.operators.Fts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PROCESS-LEVEL crash recovery for the streaming FTS index loop (round-9
  * verdict #7): IndexLifecycleSpec simulates the interleavings in-process;
  * this suite kills a REAL driver JVM with a REAL SIGKILL inside
  * [[Fts.upsertPostingsIndex]] — first between its two writes (the
  * postings delta appended, its tombstones not), then, in the restarted
  * drain's retry of the same batch, after both writes but before the
  * commit marker — restarts the same drain from its checkpoint, and
  * asserts the healed index equals a from-scratch build of the final
  * corpus.
  *
  * Mechanics: the child JVM ([[FtsCrashChild]]) runs the q160-shaped
  * 3-slice drain with `-Dgraft.crashpoint=<point>`; the seam writes a
  * marker file at the window and parks; the parent watches for the
  * marker, execs `kill -9 <pid>`, re-launches the child (same base dir →
  * same checkpoint) with the next point or none, and verifies. */
class FtsCrashRecoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def launch(base: java.nio.file.Path,
      crash: Option[String]): Process = {
    val javaBin = java.nio.file.Paths
      .get(sys.props("java.home"), "bin", "java").toString
    val args = Seq(javaBin, "-Xmx3g", "-cp", sys.props("java.class.path")) ++
      crash.toSeq.flatMap(p => Seq(s"-Dgraft.crashpoint=$p",
        s"-Dgraft.crashpoint.marker=${base.resolve(p)}")) ++
      // forked-JVM flags Spark needs on 17+ (sbt passes them to tests;
      // the child JVM must carry them itself)
      Seq("--add-exports=java.base/sun.nio.ch=ALL-UNNAMED",
        "--add-opens=java.base/java.lang=ALL-UNNAMED",
        "--add-opens=java.base/java.nio=ALL-UNNAMED",
        "--add-opens=java.base/java.util=ALL-UNNAMED",
        "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
        "graft.FtsCrashChild", base.toString)
    val pb = new ProcessBuilder(args: _*)
    pb.redirectOutput(base.resolve(
      crash.fold("child_resume.log")(p => s"child_$p.log")).toFile)
    pb.redirectErrorStream(true)
    pb.start()
  }

  private def await(p: java.nio.file.Path, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!java.nio.file.Files.exists(p) &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
    java.nio.file.Files.exists(p)
  }

  test("SIGKILL between the two index writes; checkpoint restart heals " +
      "to the scratch build") {
    val base = java.nio.file.Files.createTempDirectory("fts_crash")
    try {
      // phases 1-2: run until the child parks at the crash point inside
      // the FIRST merge-branch upsert (batch 1; in phase 2 its retry), then
      // SIGKILL
      for (point <- Seq("fts.upsert.between-writes", "fts.upsert.staged")) {
        val crashing = launch(base, Some(point))
        assert(await(base.resolve(point), 240000),
          s"child never reached $point; log:\n" +
            new String(java.nio.file.Files.readAllBytes(
              base.resolve(s"child_$point.log"))).takeRight(4000))
        // real SIGKILL — no shutdown hooks, no finally blocks, the
        // process dies with the rest of the upsert unissued
        new ProcessBuilder("kill", "-9", crashing.pid.toString)
          .start().waitFor()
        crashing.waitFor()
        val code = crashing.exitValue()
        assert(code == 137 || code == 9, s"expected SIGKILL death, got $code")
        assert(!java.nio.file.Files.exists(base.resolve("done")),
          "crashed child must not have completed the drain")
      }

      // phase 3: same base dir (same checkpoint, same staged slices), no
      // crash prop — Structured Streaming re-runs the uncommitted batch,
      // whose retry claims a new version past the two dead attempts, and
      // the remaining slices drain normally
      val resuming = launch(base, None)
      assert(resuming.waitFor(java.util.concurrent.TimeUnit.MINUTES
        .toMillis(6), java.util.concurrent.TimeUnit.MILLISECONDS) &&
        resuming.exitValue() == 0,
        "resume child failed; log:\n" + new String(java.nio.file.Files
          .readAllBytes(base.resolve("child_resume.log"))).takeRight(4000))
      assert(java.nio.file.Files.exists(base.resolve("done")))

      // verify: healed index == from-scratch postings of the final corpus
      val terms = Seq("table", "join", "scan")
      val healed = Fts.loadPostings(spark,
          base.resolve("postings").toString, terms, nBuckets = 16)
        .filter(col("word").isin(terms: _*))
        .select(col("word"), col("doc_id"), col("tf"),
          concat_ws(",", transform(col("positions"), p =>
            p.cast("string"))).as("positions"))
        .collect().map(_.toSeq).toSet
      val scratch = Fts.positionalPostings(
          FtsCrashChild.finalCorpus(spark), "doc_id", "text")
        .filter(col("word").isin(terms: _*))
        .select(col("word"), col("doc_id"), col("tf"),
          concat_ws(",", transform(col("positions"), p =>
            p.cast("string"))).as("positions"))
        .collect().map(_.toSeq).toSet
      assert(healed.nonEmpty && healed == scratch,
        s"healed index diverged from scratch (healed=${healed.size}, " +
          s"scratch=${scratch.size})")
    } finally TempDirs.rmTree(base)
  }
}
