package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().master("local[8]"), "8", "graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** Each observed hot-bucket margin of `prefix` in `r`, as
    * (hotBuckets, hotMembers, cappedBuckets, droppedReps). */
  def margins(r: obs.Record, prefix: String): Seq[Seq[Long]] =
    r.observed.toMap.getOrElse(prefix, Nil).map(row =>
      Seq("hotBuckets", "hotMembers", "cappedBuckets", "droppedReps")
        .map(row.getAs[Long]))

  /** The margin every capped path observes on the diverse hot bucket: 30
    * docs sharing a 14-word prefix, maxBucket = 4, and for the
    * corpus-vs-batch paths a batch of docs 100–104 from the same cluster. */
  val hotFixtureMargin: Seq[Long] = Seq(16L, 423L, 16L, 359L)

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
