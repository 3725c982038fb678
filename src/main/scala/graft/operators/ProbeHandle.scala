package graft.operators

import org.apache.spark.sql.DataFrame

/** A probe result plus ownership of the candidate caches its plan reads
  * lazily. The bare probe APIs ([[DedupIndex.probeIndex]],
  * [[LshIndex.batchProbe]]) deliberately leave those caches pinned — the
  * lazy plan is what keeps the pruned-scan inspectable/composable — but a
  * long-lived serving session calling them per request accumulates one
  * CacheManager entry per call (Spark evicts blocks LRU; the entries
  * linger). The managed variants return this handle instead: consume
  * `result`, then `close()` (or use in a try-with-resources /
  * `scala.util.Using`) and every cache the probe pinned is released.
  *
  * `close()` is idempotent. The plan in `result` stays EXECUTABLE after
  * close — Spark recomputes an unpersisted dependency — but the two
  * evaluations of a nondeterministic anchor pipeline may then disagree
  * (the reason the cache existed), so the contract is: materialize first,
  * close after.
  */
final class ProbeHandle private[operators] (
    val result: DataFrame, private[graft] val pinned: Seq[DataFrame])
    extends AutoCloseable {
  override def close(): Unit = pinned.foreach(_.unpersist(true))
}
