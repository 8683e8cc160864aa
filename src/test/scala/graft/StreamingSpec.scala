package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streaming

/** Structured Streaming paths: watermarked window agg + gap
  * sessionization, driven synchronously via MemoryStream.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("bloom dedup: duplicates across micro-batches drop, state stays fixed-size, schema survives") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = Streaming.bloomDedup(input.toDF().toDF("id", "text"),
      Seq("id"), mBits = 1 << 16, k = 4, nShards = 2)
    val sink = s"bloom_dedup_${System.nanoTime}"
    val q = Streaming.startMemorySink(stream, sink)
    try {
      input.addData((1L, "a"), (2L, "b"), (1L, "a-dup-same-batch"))
      q.processAllAvailable()
      input.addData((2L, "b-dup-later-batch"), (3L, "c"))
      q.processAllAvailable()
      val rows = spark.table(sink).collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L))
      // first arrival wins, later duplicates never re-emit
      assert(rows.toMap == Map(1L -> "a", 2L -> "b", 3L -> "c"))
      assert(spark.table(sink).columns.toSeq == Seq("id", "text"))
    } finally q.stop()
  }

  test("bloom_dedup spec op: streaming dispatch dedups, batch dispatch is an analysis error") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = graft.transforms.Transforms(input.toDF().toDF("id", "text"),
      graft.spec.TransformSpec("bd", "bloom_dedup",
        graft.spec.Config.of("field" -> "id", "shards" -> 2)), Map.empty)
    val sink = s"bloom_spec_${System.nanoTime}"
    val q = Streaming.startMemorySink(stream, sink)
    try {
      input.addData((1L, "a"), (1L, "dup"), (2L, "b"))
      q.processAllAvailable()
      assert(spark.table(sink).count() == 2)
    } finally q.stop()
    assertThrows[GraftAnalysisException](
      graft.transforms.Transforms(Seq((1L, "x")).toDF("id", "text"),
        graft.spec.TransformSpec("bd", "bloom_dedup", graft.spec.Config.empty), Map.empty))
  }

  test("windowed aggregation over a stream (append mode after watermark)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streaming.windowedAgg(df, "ts", "event_type", "value",
      window_ = "5 minutes", watermark = "10 minutes")
    val q = Streaming.startMemorySink(agg, "win_out")
    try {
      input.addData((ts(0), "click", 1.0), (ts(1), "click", 2.0), (ts(6), "view", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to close earlier windows
      input.addData((ts(60), "click", 9.0))
      q.processAllAvailable()
      val out = spark.table("win_out")
        .select($"event_type", $"n", $"total").as[(String, Long, Double)].collect().toSet
      assert(out.contains(("click", 2L, 3.0)))
      assert(out.contains(("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("gap sessionization emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.SessionEvent]
    val sess = Streaming.sessionize(input.toDS(), gapMs = 10 * 60000L)
    val q = Streaming.startMemorySink(sess.toDF(), "sess_out")
    try {
      // user 1: two events 5min apart (one session), then a 30min gap
      input.addData(
        Streaming.SessionEvent(1L, ts(0), 1.0),
        Streaming.SessionEvent(1L, ts(5), 2.0))
      q.processAllAvailable()
      input.addData(Streaming.SessionEvent(1L, ts(35), 7.0))
      q.processAllAvailable()
      val out = spark.table("sess_out").as[Streaming.SessionOut].collect()
      // first session (2 events, value 3.0) closed by the 35-min event
      assert(out.exists(s => s.user_id == 1L && s.n_events == 2 && s.total_value == 3.0))
    } finally q.stop()
  }

  test("StreamingRunner: pipeline spec runs under structured streaming") {
    import graft.spec._
    val dir = java.nio.file.Files.createTempDirectory("graftsrun")
    sf("events").limit(200).write.mode("overwrite").parquet(dir.toString + "/in")
    val spec = PipelineSpec(
      name = "stream_pipe",
      sources = Seq(
        SourceSpec("events", "parquet", Config.of("path" -> (dir.toString + "/in")))),
      transforms = Seq(
        TransformSpec("f", "filter", Config.of("field" -> "value", "op" -> "gt", "value" -> 5.0)),
        TransformSpec("p", "select", Config.of("fields" -> Seq("event_id", "event_type", "value")))),
      sinks = Seq(SinkSpec("m", "memory", Config.of("table" -> "spec_stream_out"))))
    val run = graft.streaming.StreamingRunner.start(
      spark, spec, dir.toString + "/ckpt")
    try {
      run.query.processAllAvailable()
      val got = spark.table("spec_stream_out").count()
      val expect = spark.read.parquet(dir.toString + "/in").where($"value" > 5.0).count()
      assert(got == expect)
      assert(spark.table("spec_stream_out").columns.toSeq == Seq("event_id", "event_type", "value"))
    } finally run.query.stop()
  }

  test("StreamingRunner: a dangling depends_on is refused at start, as in batch") {
    import graft.spec._
    val dir = java.nio.file.Files.createTempDirectory("graftsrunbad")
    sf("events").limit(10).write.mode("overwrite").parquet(dir.toString + "/in")
    val spec = PipelineSpec(
      name = "stream_bad",
      sources = Seq(SourceSpec("events", "parquet", Config.of("path" -> (dir.toString + "/in")))),
      transforms = Seq(TransformSpec("f", "filter",
        Config.of("field" -> "value", "op" -> "gt", "value" -> 5.0), Seq("missing"))),
      sinks = Seq(SinkSpec("m", "memory", Config.of("table" -> "spec_stream_bad"))))
    val e = intercept[GraftAnalysisException] {
      graft.streaming.StreamingRunner.start(spark, spec, dir.toString + "/ckpt")
    }
    assert(e.getMessage.contains("depends_on 'missing' does not exist"))
  }

  test("StreamingRunner: raw text stream flows through the same spec transforms") {
    import graft.spec._
    val dir = java.nio.file.Files.createTempDirectory("graftsruntext")
    java.nio.file.Files.writeString(dir.resolve("in").resolve("a.txt").normalize() match {
      case p => java.nio.file.Files.createDirectories(p.getParent); p
    }, "alpha line\nbeta line\ngamma\n")
    val spec = PipelineSpec(
      name = "text_stream",
      sources = Seq(SourceSpec("lines", "text", Config.of("path" -> (dir.toString + "/in")))),
      transforms = Seq(TransformSpec("f", "filter",
        Config.of("field" -> "value", "op" -> "contains", "value" -> "line"))),
      sinks = Seq(SinkSpec("m", "memory", Config.of("table" -> "spec_text_stream_out"))))
    val run = graft.streaming.StreamingRunner.start(spark, spec, dir.toString + "/ckpt")
    try {
      run.query.processAllAvailable()
      assert(spark.table("spec_text_stream_out").as[String].collect().sorted.toSeq
        == Seq("alpha line", "beta line"))
    } finally run.query.stop()
  }

  test("StreamingRunner: watermark + window_agg spec aggregates a stream") {
    import graft.spec._
    val dir = java.nio.file.Files.createTempDirectory("graftswin")
    sf("events").limit(500).write.mode("overwrite").parquet(dir.toString + "/in")
    val spec = PipelineSpec(
      name = "stream_win",
      sources = Seq(SourceSpec("events", "parquet", Config.of("path" -> (dir.toString + "/in")))),
      transforms = Seq(
        // ts is nanosecond-long under nanosAsLong: normalize first
        TransformSpec("t", "map", Config.of("field" -> "ts", "operation" -> "ns_to_timestamp"), Nil, 0),
        TransformSpec("w", "watermark", Config.of("field" -> "ts", "delay" -> "1 hour"), Nil, 1),
        TransformSpec("a", "window_agg", Config.of(
          "time_field" -> "ts", "duration" -> "1 hour", "group_by" -> Seq("event_type"),
          "aggregations" -> Seq(Map("function" -> "count", "as" -> "n"))), Nil, 2)),
      sinks = Seq(SinkSpec("m", "memory", Config.of(
        "table" -> "win_spec_out", "output_mode" -> "update"))))
    val run = graft.streaming.StreamingRunner.start(spark, spec, dir.toString + "/ckpt")
    try {
      run.query.processAllAvailable()
      val out = spark.table("win_spec_out")
      assert(out.columns.contains("window_start") && out.columns.contains("n"))
      // total counted events across windows == input rows
      val total = out.agg(sum($"n")).as[Long].head()
      assert(total == 500L)
    } finally run.query.stop()
  }

  test("StreamingRunner: watermark + sessionize spec emits watermark-closed sessions") {
    import graft.spec._
    val dir = java.nio.file.Files.createTempDirectory("graftsess")
    sf("events").limit(500).write.mode("overwrite").parquet(dir.toString + "/in")
    val spec = PipelineSpec(
      name = "stream_sess",
      sources = Seq(SourceSpec("events", "parquet", Config.of("path" -> (dir.toString + "/in")))),
      transforms = Seq(
        TransformSpec("t", "map", Config.of("field" -> "ts", "operation" -> "ns_to_timestamp"), Nil, 0),
        TransformSpec("w", "watermark", Config.of("field" -> "ts", "delay" -> "30 minutes"), Nil, 1),
        TransformSpec("s", "sessionize", Config.of(
          "gap_ms" -> 1800000L, "mode" -> "event_time"), Nil, 2)),
      sinks = Seq(SinkSpec("m", "memory", Config.of("table" -> "sess_spec_out"))))
    val run = graft.streaming.StreamingRunner.start(spark, spec, dir.toString + "/ckpt")
    try {
      run.query.processAllAvailable()
      val out = spark.table("sess_spec_out")
      assert(out.columns.toSeq == Seq("user_id", "session_start", "session_end",
        "n_events", "total_value"))
      assert(out.count() > 0)
      // every emitted session respects the gap invariant
      assert(out.where(unix_millis($"session_end") < unix_millis($"session_start")).count() == 0)
    } finally run.query.stop()
    // batch pipelines must be rejected: no watermark, nothing would close
    val batchDf = sf("events").limit(10)
    assertThrows[GraftAnalysisException] {
      graft.transforms.Transforms(batchDf,
        TransformSpec("s", "sessionize", Config.of()), Map.empty)
    }
  }

  test("checkpoint recovery: restart mid-replay neither loses nor duplicates windows") {
    import java.nio.file.{Files => JFiles, StandardCopyOption}
    import graft.streaming.{StreamParity, Streaming}
    val evRaw = sf("events").limit(800)
    // normalize ts whatever the testdata vintage: int64-nanos or
    // (NTZ) timestamp — mirror of SparkEntry's events() adapter
    val ev = (evRaw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        evRaw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => evRaw.withColumn("ts", $"ts".cast("timestamp"))
    }).select($"ts", $"event_type", $"value".cast("decimal(18,6)").as("value"))
    val (staged, _) = StreamParity.writeChunksInOrder(ev, "ts", 0 until 6)
    val watched = JFiles.createTempDirectory("graft_ckpt_watch")
    val outDir = JFiles.createTempDirectory("graft_ckpt_out").toString
    val ckpt = JFiles.createTempDirectory("graft_ckpt_meta").toString
    val files = JFiles.list(staged).sorted().toArray.map(_.asInstanceOf[java.nio.file.Path])

    def start() = {
      val stream = Streaming.fileSource(spark, watched.toString, ev.schema, maxFilesPerTrigger = 1)
      Streaming.windowedAgg(stream, "ts", "event_type", "value",
          window_ = "1 hour", watermark = "30 minutes")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    // first half of the history, then a hard stop (simulated failure /
    // redeploy), then a NEW query on the same checkpoint for the rest
    val q1 = start()
    try files.take(3).foreach { f =>
      JFiles.copy(f, watched.resolve(f.getFileName.toString), StandardCopyOption.REPLACE_EXISTING)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      files.drop(3).foreach { f =>
        JFiles.copy(f, watched.resolve(f.getFileName.toString), StandardCopyOption.REPLACE_EXISTING)
        q2.processAllAvailable()
      }
    } finally q2.stop()

    // exactly-once across the restart: output (read through the file
    // sink's manifest) must equal the batch answer over the windows
    // the final watermark finalized — no loss, no duplication
    val hi = ev.agg(max(unix_millis($"ts"))).as[Long].head()
    val expected = ev
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
      .where(unix_millis($"w.end") <= hi - 1800000L)
      .select(unix_millis($"w.start").as("ws"), $"event_type", $"n",
        $"total".cast("double").as("total"))
    val got = spark.read.parquet(outDir)
      .select(unix_millis($"window_start").as("ws"), $"event_type", $"n",
        $"total".cast("double").as("total"))
    assert(got.count() == expected.count(), "row count drifted across restart")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "restart lost or duplicated finalized windows")
  }

  test("stream replay reproduces the batch answer exactly (windowed agg + sessions)") {
    // the driver gate (x_stream_window / x_stream_sessions) proves this
    // against DuckDB at sf0.01; this pins the same batch/stream parity
    // in-engine at sf0.001 so a regression fails fast in `sbt test`
    val d = "/root/testdata/sf0.001"
    val win = SparkEntry.queries("x_stream_window")(spark, d)
    val batchWin = SparkEntry.queries("x_events_window")(spark, d)
    assert(win.exceptAll(batchWin).isEmpty && batchWin.exceptAll(win).isEmpty)
    val sess = SparkEntry.queries("x_stream_sessions")(spark, d)
    val batchSess = SparkEntry.queries("x_sessionize")(spark, d)
      .select($"user_id", $"session_start_ms", $"session_end_ms", $"n_events",
        ($"total_value".cast("decimal(18,6)") * 1000000).cast("long").as("total_value_e6"))
    assert(sess.exceptAll(batchSess).isEmpty && batchSess.exceptAll(sess).isEmpty)
  }

  test("real media codecs run under structured streaming unchanged") {
    // the codec ops are mapPartitions over a Dataset — the exact shape
    // Structured Streaming executes per micro-batch, so an ingest
    // stream can decode/filter media the same way a batch job does
    val dir = java.nio.file.Files.createTempDirectory("graftmediastream")
    val docs = Seq((1L, "stream me through a png"), (2L, "and me too please"))
      .toDF("doc_id", "text")
    graft.ops.Multimodal.packTextPng(docs, "doc_id", "text", width = 8)
      .write.mode("overwrite").parquet(dir.toString + "/in")
    val schema = spark.read.parquet(dir.toString + "/in").schema
    val stream = Streaming.fileSource(spark, dir.toString + "/in", schema)
    val decoded = graft.ops.Multimodal.decodeImagePixels(stream, "id", "media")
    assert(decoded.isStreaming)
    val q = Streaming.startMemorySink(decoded, "media_out")
    try {
      q.processAllAvailable()
      val out = spark.table("media_out")
        .select("id", "pixel_hash").as[(Long, Long)].collect().toMap
      val batch = graft.ops.Multimodal.decodeImagePixels(
        spark.read.parquet(dir.toString + "/in"), "id", "media")
        .select("id", "pixel_hash").as[(Long, Long)].collect().toMap
      assert(out == batch && out.size == 2)
    } finally q.stop()
  }

  test("file stream source: batch transforms apply unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graftstream")
    sf("events").limit(100).write.mode("overwrite").parquet(dir.toString + "/in")
    val schema = spark.read.parquet(dir.toString + "/in").schema
    val stream = Streaming.fileSource(spark, dir.toString + "/in", schema)
    // the same stateless transform ops compile against a streaming DF
    val filtered = graft.transforms.FilterOp(stream,
      graft.spec.Config.of("field" -> "event_type", "op" -> "eq", "value" -> "click"))
    val q = Streaming.startMemorySink(filtered, "file_out")
    try {
      q.processAllAvailable()
      val n = spark.table("file_out").count()
      val expect = spark.read.parquet(dir.toString + "/in")
        .where($"event_type" === "click").count()
      assert(n == expect)
    } finally q.stop()
  }

  test("delta sink (round 18): exactly-once appends; a replayed epoch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft-sds").toFile.getAbsolutePath
    val tbl = s"$base/tbl"; val cp = s"$base/cp"
    def start() = Streaming.startDeltaSink(input.toDF().toDF("id", "s"), tbl, cp,
      "sds-app", trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // AvailableNow self-terminates after draining, so each micro-batch
    // is one start/drain cycle — awaitTermination (not stop) guarantees
    // the query has fully deregistered from the checkpoint before the
    // next start; the restart also exercises epoch-id continuity from
    // the checkpoint (epoch 1 must not collide with 0)
    def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      try q.awaitTermination() finally q.stop()
    input.addData((1L, "a"), (2L, "b"))
    drain(start())
    input.addData((3L, "c"))
    drain(start())
    assert(graft.ops.DeltaLog.readTable(spark, tbl).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    def tableVersions: Seq[Long] =
      Option(new java.io.File(tbl, "_delta_log").listFiles()).getOrElse(Array.empty)
        .toSeq.map(_.getName).filter(_.endsWith(".json"))
        .map(_.stripSuffix(".json").toLong).sorted
    assert(tableVersions == Seq(0L, 1L))
    // simulate a crash BETWEEN the table commit and the streaming
    // checkpoint write: drop the checkpoint's last commit marker so a
    // restart replays the epoch — the txn marker makes it a no-op
    val commits = new java.io.File(cp, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName)
    assert(commits.nonEmpty)
    val last = commits.last
    last.delete()
    // the checkpoint FS is checksum-wrapped: the orphaned .N.crc
    // sidecar would collide with the replay's rename
    new java.io.File(last.getParentFile, "." + last.getName + ".crc").delete()
    drain(start())
    assert(tableVersions == Seq(0L, 1L)) // no third commit
    assert(graft.ops.DeltaLog.readTable(spark, tbl).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("iceberg sink (round 18): exactly-once snapshots; a replayed epoch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft-sis").toFile.getAbsolutePath
    val tbl = s"$base/tbl"; val cp = s"$base/cp"
    def start() = Streaming.startIcebergSink(input.toDF().toDF("id", "s"), tbl, cp,
      "sis-app", trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      try q.awaitTermination() finally q.stop()
    input.addData((1L, "a"), (2L, "b"))
    drain(start())
    input.addData((3L, "c"))
    drain(start())
    assert(graft.ops.Iceberg.readTable(spark, tbl).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    def metaVersions: Seq[String] =
      Option(new java.io.File(tbl, "metadata").listFiles()).getOrElse(Array.empty)
        .toSeq.map(_.getName).filter(_.endsWith(".metadata.json")).sorted
    assert(metaVersions == Seq("v1.metadata.json", "v2.metadata.json"))
    // crash between the table commit and the stream checkpoint write:
    // drop the checkpoint's last commit marker; the snapshot-summary
    // epoch marker makes the replay a no-op
    val commits = new java.io.File(cp, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName)
    assert(commits.nonEmpty)
    val last = commits.last
    last.delete()
    new java.io.File(last.getParentFile, "." + last.getName + ".crc").delete()
    drain(start())
    assert(metaVersions == Seq("v1.metadata.json", "v2.metadata.json")) // no v3
    assert(graft.ops.Iceberg.readTable(spark, tbl).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // each epoch is one snapshot: the incremental scan polls epoch 2's rows
    assert(graft.ops.Iceberg.readAppendsBetween(spark, tbl, 1L, None)
      .select("id").as[Long].collect().toSeq == Seq(3L))
  }
}
