package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries (QueryDef.bench) against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Results are fully executed
  * via the `noop` sink so projection-only queries can't be optimized away by
  * a count(). One warm-up pass primes the JVM/codegen caches before timing;
  * each query is then timed SPARK_GRAFT_BENCH_RUNS times (default 3) and the
  * per-query MEDIAN is reported — single-shot timings on a shared box swing
  * 2-3× on scheduling noise, which is indistinguishable from a real
  * regression (the r1→r2 +29% drift problem).
  *
  * Every timed execution runs as an [[obs.Profile]] unit. The first round's
  * record per query goes to the file payload: its SHUFFLE VOLUME (records +
  * bytes written across all its stages) — records are deterministic for a
  * given plan and data, so cross-round comparisons read regressions off
  * volume instead of this box's ±25-50% wall-clock noise (PERF.md's
  * five-run study) — and its planning-vs-execution split.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus, "graft-bench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def exec(q: QueryDef): Unit =
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()

    // set selection: "bench" (default — the driver's per-round headline
    // subset, kept stable for cross-round comparability) or "wide" (the
    // yardstick's full same-algorithm set, SparkEntry.wideBenchQueries)
    val baseSet = sys.env.getOrElse("SPARK_GRAFT_BENCH_SET", "bench") match {
      case "bench" => SparkEntry.benchQueries
      case "wide" => SparkEntry.wideBenchQueries
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_SET must be bench|wide, got '$other'")
    }
    // dev-only subset filter (comma-separated names, mirrors Verify's name
    // arg): lets a regression be isolated from its bench neighbors — unset
    // for the driver's full run
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // validate each requested name — a typo'd entry silently dropping one
    // query would read downstream as "nothing regressed"
    only.foreach { names =>
      val known = baseSet.map(_.name).toSet
      val unknown = names -- known
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the selected set: $unknown")
      require(names.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but empty")
    }
    val qs = baseSet.filter(q => only.forall(_.contains(q.name)))
    val prof = new obs.Profile(spark)
    // first-round records, plans dropped so no executed plan (and its
    // broadcast relations) outlives its query
    val firstRound = scala.collection.mutable.Map.empty[String, obs.Record]
    // warm-up: JIT + codegen cache + file listing (failures surface in the
    // timed pass — don't double-report)
    qs.foreach(q => try exec(q) catch { case _: Throwable => () })
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeOnce(q: QueryDef): Double =
      try {
        val r = prof(q.name)(exec(q))._2
        firstRound.getOrElseUpdate(q.name, r.copy(plans = Nil))
        r.wallMs / 1e3
      } catch {
        case t: Throwable =>
          System.err.println(s"BENCH FAILURE ${q.name}: ${t.getClass.getName}: ${t.getMessage}")
          errors(q.name) = Option(t.getMessage).getOrElse(t.getClass.getName).take(200)
          -1.0
      }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // interleaved rounds (q1..qn, q1..qn, ...) rather than q1×3, q2×3 — so a
    // transient contention spike hits one ROUND, not all samples of one query;
    // shuffle volume is reported from round 1 only (records are plan-
    // deterministic; one execution's volume IS the number)
    val samples = (1 to runs).map(_ => qs.map(q => q.name -> timeOnce(q)))
    val results = qs.map { q =>
      val vals = samples.map(_.find(_._1 == q.name).get._2)
      q.name -> (if (vals.exists(_ < 0)) -1.0 else median(vals))
    }
    val qJson = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.filter(_._2 >= 0).map(_._2).sum
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) =>
        "\"" + k + "\":\"" + v.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""
      }.mkString(",\"errors\":{", ",", "}")
    val shJson = qs.map { q =>
      val (r, b) = firstRound.get(q.name)
        .fold((0L, 0L))(p => (p.shuffleRecords, p.shuffleBytes))
      "\"" + q.name + s"""":{"records":$r,"bytes":$b}"""
    }.mkString(",\"shuffle\":{", ",", "}")
    val profJson = qs.flatMap(q => firstRound.get(q.name))
      .map(p => "\"" + p.name + "\":" + p.json)
      .mkString(",\"profile\":{", ",", "}")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$runs,"queries":$qJson$shJson$profJson$errJson,"sf":"$sfDir"}"""
    // stdout gets the COMPACT line (no per-query shuffle map): the driver
    // captures a bounded TAIL of stdout, and the full line outgrew that
    // window once shuffle metrics landed (BENCH_r06 and BENCH_r10 both
    // recorded parsed:null with the line truncated mid-object). The compact
    // form is the original driver contract — one parseable JSON line —
    // while the full payload (shuffle volumes included) goes to the file
    // below, which yardstick.py and the round artifacts read.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$runs,"queries":$qJson$errJson,"sf":"$sfDir"}""")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"bench json written to $outPath")
    } catch {
      case t: Throwable => // file copy is belt-and-braces; stdout already has it
        System.err.println(s"bench json file write failed: ${t.getMessage}")
    }
    spark.stop()
  }
}
