package graft
import scala.collection.mutable

/** Benchmark main: one JSON line with per-query seconds.
  *
  * Each query is timed `SPARK_GRAFT_BENCH_REPEATS` times (default 3)
  * back-to-back and the headline number is the MIN — a single
  * co-tenant CPU burst on a shared box can inflate one timing by 10×
  * (observed: 30.8 s vs 2.5 s clean for the same commit), and min-of-N
  * is the standard estimator for "what the code costs" under external
  * noise. The last repeat is emitted alongside (`queries_last`) so a
  * suspicious min/last spread flags contention in the report itself.
  * The JSON line is printed from a finally block: a query that dies
  * still yields a (partial, error-annotated) benchmark artifact
  * instead of an empty round.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    val spark = GraftSession.getOrCreate()
    // untimed warmup: JIT/classload the scan+codegen+shuffle paths once
    // so the first measured query reflects steady state, not JVM warmup
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
      // regex-bearing pass: JIT the codegen'd rlike/UTF8String paths so
      // the first measured regex query isn't paying compiler warmup
      li.filter("l_returnflag rlike '^[A-Z]+$'").groupBy("l_linestatus").count()
        .write.format("noop").mode("overwrite").save()
      // agg + semi-join pass: JIT hash-join build/probe and the AQE
      // shuffle→broadcast conversion the join-family queries hit
      val mins = li.groupBy("l_orderkey")
        .agg(org.apache.spark.sql.functions.min("l_linenumber").as("l_linenumber"))
      li.join(mins, Seq("l_orderkey", "l_linenumber"), "left_semi")
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    val mins = mutable.LinkedHashMap.empty[String, Double]
    val lasts = mutable.LinkedHashMap.empty[String, Double]
    // operator-vs-harness split for the stream gates (round-7 advice
    // #8): `replay` = the arrival-per-round feed loop of the min
    // repeat (operator-dominated), `stage` = fixture staging summed
    // across repeats (one-time per JVM, memoized after repeat 1)
    val replays = mutable.LinkedHashMap.empty[String, Double]
    val stages = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.ListBuffer.empty[String]
    try {
      // noop sink materializes every output column (a bare count()
      // would let Catalyst prune computed columns and bench the scan)
      val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
        // GC barrier: without it a query's timing inherits the heap
        // debris of the ~80 queries before it (measured 5.5 s vs
        // 1.7 s for the same query full-suite vs isolated); the pause
        // sits outside the timed window
        System.gc()
        var minDt = Double.MaxValue
        var minReplay = 0.0
        var stageSum = 0.0
        var lastDt = 0.0
        var okCount = 0
        (1 to repeats).foreach { _ =>
          graft.streaming.StreamParity.resetTimers()
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
            }
          val dt = (System.nanoTime() - t0) / 1e9
          if (ok) {
            okCount += 1
            lastDt = dt
            stageSum += graft.streaming.StreamParity.stagingSeconds
            if (dt < minDt) {
              minDt = dt
              minReplay = graft.streaming.StreamParity.replaySeconds
            }
          } else if (!failed.contains(name)) failed += name
        }
        if (okCount > 0) {
          mins(name) = minDt
          lasts(name) = lastDt
          if (minReplay > 0.005) replays(name) = minReplay
          if (stageSum > 0.005) stages(name) = stageSum
          System.err.println(
            f"[bench] $name%-24s min $minDt%8.2fs  last $lastDt%8.2fs  (n=$okCount)")
        }
      }
    } finally {
      def js(m: mutable.LinkedHashMap[String, Double]) =
        m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // stdout variant: 4-decimal values — the driver keeps a bounded
      // stdout tail, and round 10's full-precision 5-map line overran
      // it (BENCH_r10.json shipped "parsed": null); sub-0.1 ms noise
      // carries no information anyway
      def js4(m: mutable.LinkedHashMap[String, Double]) =
        m.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")
      val total = mins.values.sum
      // OPERATOR-time view (round-8 advice #6): for stream gates the
      // wall min is dominated by the chunked-file fixture-replay
      // harness (one-time staging + per-round file feeds), which swings
      // with box load and reads as phantom regression round-over-round.
      // `queries_op` substitutes the replay-loop seconds (the
      // operator-dominated part of the min repeat) where one was
      // measured; batch gates pass through unchanged. `value_op` is the
      // round-over-round comparator; `value` stays the raw wall sum.
      val ops = mins.map { case (k, v) => k -> replays.getOrElse(k, v) }
      val totalOp = ops.values.sum
      val failedJs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val line = s"""{"metric":"total","value":$total,"value_op":$totalOp,"unit":"sec","queries":${js(mins)},""" +
        s""""queries_op":${js(ops)},""" +
        s""""queries_last":${js(lasts)},"queries_replay":${js(replays)},""" +
        s""""queries_stage":${js(stages)},"repeats":$repeats,"failed":$failedJs,"sf":"$sfDir"}"""
      // stdout gets a SHORTER line (two maps, 4-decimal) that fits the
      // driver's tail; the full-precision five-map line goes only to
      // the file artifact below
      println(s"""{"metric":"total","value":$total,"value_op":$totalOp,"unit":"sec","queries":${js4(mins)},""" +
        s""""queries_op":${js4(ops)},"repeats":$repeats,"failed":$failedJs,"sf":"$sfDir"}""")
      // The stdout channel is lossy (the harness keeps only a bounded
      // tail, which truncates the per-query map for a 100+-query
      // suite), so the same line is also written to a repo artifact —
      // overwritten per run — that survives intact for round-over-round
      // per-query comparison.
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
      try java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] artifact write failed: $e") }
      spark.stop()
    }
  }
}
