package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.storage.StorageLevel

/** Minimal package-placed shim: Spark 4 made Column↔Expression conversion
  * private[sql] (classic.ExpressionUtils), and third-party expression
  * libraries conventionally bridge it from inside the package. Only these
  * bridges are exposed; nothing else reaches into internals.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Rebind a DataFrame's (analyzed) plan to another session of the same
    * SparkContext — the conf-isolation seam: a query run through the
    * returned frame plans and executes under `spark`'s SQLConf, so an
    * operator can lift a conf for one internal job (e.g. BloomJoin's
    * runtime-bloom sizing clamps) on a `newSession()` clone without the
    * parent session ever observing the change. */
  def inSession(spark: SparkSession, df: Dataset[Row]): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** Blocks until every listener has seen every event posted so far, so a
    * profiler reads its counters only after the work they describe; throws
    * on timeout rather than return an undercount. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** The QueryExecution Spark attaches to an execution's end event (null
    * when the event was not posted by SQLExecution). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  /** `df`'s rows as a leaf plan over its executed RDD, persisted on first
    * use: plans built on the result do not embed `df`'s plan (the cut
    * `Dataset.checkpoint` makes, without its SQL execution), and a lost
    * block recomputes from the RDD lineage. `df`'s shuffle stages run here,
    * as AQE plans its final stage after them. The caller unpersists the
    * returned RDD. */
  def persistedLeaf(df: Dataset[Row]): (Dataset[Row], RDD[InternalRow]) = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = d.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    (classic.Dataset.ofRows(d.sparkSession,
      LogicalRDD.fromDataset(rdd, d, d.isStreaming)), rdd)
  }
}
