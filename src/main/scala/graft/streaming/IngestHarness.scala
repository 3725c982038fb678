package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** The shared Structured-Streaming drain behind every persisted-index
  * streaming-maintenance query (dedup q145, IVF-PQ q154, FTS q160 — one
  * loop per index family): stage each slice as ONE parquet file with a
  * pinned mtime (the parquet file source orders by (mtime, path), so
  * slice i is always micro-batch i — the determinism the oracles need),
  * then drain a `maxFilesPerTrigger=1` file stream through
  * `foreachBatch(fold)` against a checkpoint. `fold` is the per-family
  * upsert (`DedupIndex.ingestBatch` / `IvfPq.upsertIvfPqIndex` /
  * `Fts.upsertPostingsIndex`) — each writes through
  * [[graft.operators.BucketedIndex]], which owns bulk-vs-merge routing
  * and crash ordering, so a NEW index family gets streaming
  * maintenance by supplying only its fold, and the
  * retry-of-the-same-batch healing contract is exercised through the
  * same checkpointed machinery for all of them.
  */
object IngestHarness {

  /** Stage `slices` and drain them through `fold`, one micro-batch per
    * slice, under `base` (uses `base/in`, `base/stage*`, `base/ckpt`). */
  def drain(s: SparkSession, base: java.nio.file.Path,
      slices: Seq[DataFrame], fold: Dataset[Row] => Unit): Unit = {
    require(slices.nonEmpty, "need at least one slice")
    val srcDir = base.resolve("in")
    java.nio.file.Files.createDirectories(srcDir)
    slices.zipWithIndex.foreach { case (df, i) =>
      val staging = base.resolve(s"stage$i")
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = staging.toFile.listFiles
        .find(_.getName.endsWith(".parquet")).get.toPath
      val dst = srcDir.resolve(s"slice$i.parquet")
      // REPLACE_EXISTING: a retry of the same drain over an existing base
      // (the crash-recovery scenario the checkpoint exists for) must
      // restage idempotently, not die at staging before the checkpointed
      // stream can resume
      java.nio.file.Files.copy(part, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // file-source order = (mtime, path); pin it so slice i is batch i
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 10000))
    }
    val q = s.readStream.schema(slices.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) => fold(batch) }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
  }
}
