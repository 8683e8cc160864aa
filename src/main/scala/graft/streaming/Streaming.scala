package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (ABSENT in the reference — strictly
  * batch, SURVEY §2.4; this is the §7.2 step-8 extension).
  *
  * The same transform chain the batch runner compiles
  * ([[graft.transforms.Transforms]]) applies unchanged to a streaming
  * DataFrame for the stateless subset (filter/map/select/rename/
  * union); stateful patterns are provided here: watermarked windowed
  * aggregation and gap-based sessionization via
  * `flatMapGroupsWithState` — both designed so state is bounded (the
  * watermark evicts) no matter how long the stream runs.
  */
object Streaming {

  /** Bloom-state streaming dedup — the BOUNDED-FOREVER alternative
    * to `dropDuplicates`: watermarked dedup state grows with the
    * key count inside the watermark and unwatermarked state grows
    * without limit, but a crawl frontier ("never emit a URL twice,
    * ever") needs all-time memory. Here state is `nShards` Bloom
    * bit arrays of `mBits` bits — a FIXED byte budget for the whole
    * life of the stream — at the Bloom trade: no duplicate is ever
    * re-emitted (no false negatives), while a false positive drops
    * a never-seen key at the configured rate. Keys shard by xxhash64
    * so each group's state stays `mBits/8` bytes and inserts are
    * spread evenly; rows pass through a to_json/from_json envelope
    * so the op is schema-generic. Emission keeps the first arrival
    * (within a micro-batch, iterator order) and inserts its key via
    * the same md5 double-hash positions as [[graft.ops.Bloom]].
    */
  def bloomDedup(df: DataFrame, keyCols: Seq[String], mBits: Int = 1 << 20,
      k: Int = 4, nShards: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val schema = df.schema
    val keyed = df.select(
      concat_ws("\u0000", keyCols.map(col): _*).as("__key"),
      to_json(struct(df.columns.map(col): _*)).as("__js"))
      .withColumn("__shard", pmod(xxhash64(col("__key")), lit(nShards.toLong)))
      .as[(String, String, Long)]
    val deduped = keyed
      .groupByKey(_._3)
      .flatMapGroupsWithState[Array[Byte], String](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(String, String, Long)], state: GroupState[Array[Byte]]) =>
          val filter = state.getOption.getOrElse(new Array[Byte](mBits / 8))
          val out = List.newBuilder[String]
          var inserted = false
          rows.foreach { case (key, js, _) =>
            if (!graft.ops.Bloom.hit(filter, k, key)) {
              val ps = graft.ops.Bloom.positions(key, mBits, k)
              var i = 0
              while (i < k) {
                val p = ps(i)
                filter(p >>> 3) = (filter(p >>> 3) | (1 << (p & 7))).toByte
                i += 1
              }
              inserted = true
              out += js
            }
          }
          if (inserted) state.update(filter)
          out.result().iterator
      }
    deduped.select(from_json(col("value"), schema).as("r")).select(col("r.*"))
  }

  /** File-based stream source: new files appearing under `dir` are the
    * micro-batches. `maxFilesPerTrigger` bounds per-batch work —
    * backpressure at the source, which is what keeps a backlogged
    * 100 TB directory from being swallowed in one batch.
    */
  def fileSource(spark: SparkSession, dir: String, schema: StructType,
      format: String = "parquet", maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format).load(dir)

  /** Watermarked tumbling/sliding-window aggregation: counts + sum per
    * (window, key). Late events beyond `watermark` are dropped and
    * their state evicted — bounded state by construction.
    */
  def windowedAgg(
      events: DataFrame, tsCol: String, keyCol: String, valueCol: String,
      window_ : String = "5 minutes", slide: Option[String] = None,
      watermark: String = "10 minutes"): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), window_, s)
      case None    => window(col(tsCol), window_)
    }
    events.withWatermark(tsCol, watermark)
      .groupBy(win.as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col(keyCol), col("n"), col("total"))
  }

  final case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)
  final case class SessionOut(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  /** Gap-based sessionization: a session closes when a later event for
    * the same user arrives more than `gapMs` after the previous one —
    * or, with `timeout = ProcessingTimeTimeout`, after `gapMs` of
    * wall-clock inactivity (production mode; the default NoTimeout
    * keeps batch-driven tests deterministic — a processing-time
    * timeout makes the query re-trigger on its own clock, so
    * `processAllAvailable` never settles). State per live user is O(1)
    * — four numbers — so total state is bounded by the number of
    * concurrently-active users, not event volume.
    */
  def sessionize(
      events: Dataset[SessionEvent], gapMs: Long = 30 * 60 * 1000L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout()): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val useTimeout = timeout != GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeout) {
        (userId: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, new Timestamp(s.start), new Timestamp(s.lastTs), s.n, s.total))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var out = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  out ::= SessionOut(userId, new Timestamp(s.start), new Timestamp(s.lastTs), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapMs)
            }
            out.reverseIterator
          }
      }
  }

  /** Gap sessionization with EVENT-TIME timeouts — the production
    * closing mechanism: a session also closes when the WATERMARK
    * passes `lastTs + gapMs`, so end-of-stream sessions emit without
    * the sentinel-row workaround the NoTimeout variant needs, and
    * state for idle users is evicted by event time, not wall clock
    * (deterministic under replay, unlike ProcessingTimeTimeout).
    *
    * Emission contract (the gate's oracle predicts it exactly):
    *  - a session closed BY DATA (a later event of the same user
    *    beyond the gap) emits in the batch that event arrives — no
    *    watermark involvement;
    *  - a session closed BY TIMEOUT emits once the watermark passes
    *    `session_end + gap`; sessions the final watermark never
    *    passes stay in state, unemitted (exactly the trailing-window
    *    holdback append-mode windows have).
    *
    * The timeout timestamp is clamped to just above the current
    * watermark when `lastTs + gap` already trails it (Spark rejects
    * timeouts at-or-below the watermark); the clamp delays emission
    * by one batch but never changes membership.
    *
    * Caller must `withWatermark` the event-time column BEFORE calling
    * (the timeout needs a watermark to measure against).
    */
  def sessionizeEventTime(
      events: Dataset[SessionEvent], gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, new Timestamp(s.start), new Timestamp(s.lastTs), s.n, s.total))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var out = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  out ::= SessionOut(userId, new Timestamp(s.start), new Timestamp(s.lastTs), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(s.lastTs + gapMs, wm + 1))
            }
            out.reverseIterator
          }
      }
  }

  /** Per-user sorter state for [[sessionizeOutOfOrder]]: events not
    * yet releasable by the watermark, plus the open session over the
    * already-released prefix. State is bounded: the buffer holds at
    * most one watermark-delay's worth of a user's events (older rows
    * release or drop), the open session is O(1).
    */
  final case class OooState(buf: Seq[(Long, Double)], open: Option[SessionState])

  /** Gap sessionization under OUT-OF-ORDER arrival — the sorter
    * pattern: arrivals buffer in state; once the WATERMARK passes an
    * event's time it is released and folded into sessions in EVENT-
    * TIME order, so session segmentation equals the batch answer over
    * the released rows no matter how arrivals interleave (within one
    * watermark window). The released prefix can never need
    * re-ordering: a row released later always carries a timestamp
    * above the watermark that released the earlier prefix.
    *
    * Late-row contract is self-enforced, not inherited from the
    * engine: a row at-or-below the current watermark AT ARRIVAL is
    * dropped by the operator (`ts > wm` filter) — deterministic and
    * oracle-predictable from the arrival schedule alone.
    *
    * Emission: a session closes when a released successor lies beyond
    * the gap (by data) or when the watermark passes `end + gap` (by
    * timeout — no later event can extend it, since all future rows
    * exceed the watermark). Trailing events the final watermark never
    * releases stay buffered, unemitted — the stateful analog of
    * append-mode window holdback.
    *
    * Caller must `withWatermark` the event-time column BEFORE calling.
    */
  /** The sorter-state fold of [[sessionizeOutOfOrder]]: (prior state,
    * fresh arrivals, watermark) → (emissions, next state). Factored
    * out so PropertySpec can drive it with arbitrary arrival orders
    * and watermark schedules without spinning a streaming query.
    */
  private[graft] def oooAdvance(uid: Long, prior: OooState,
      fresh: Seq[(Long, Double)], wm: Long, gapMs: Long): (List[SessionOut], Option[OooState]) = {
    val buf = prior.buf ++ fresh.filter(_._1 > wm) // late rows dropped HERE
    val (ready, pending) = buf.partition(_._1 <= wm)
    var out = List.empty[SessionOut]
    var cur = prior.open
    ready.sorted.foreach { case (t, v) =>
      cur match {
        case Some(s) if t - s.lastTs <= gapMs =>
          cur = Some(s.copy(lastTs = t, n = s.n + 1, total = s.total + v))
        case Some(s) =>
          out ::= SessionOut(uid, new Timestamp(s.start), new Timestamp(s.lastTs), s.n, s.total)
          cur = Some(SessionState(t, t, 1, v))
        case None =>
          cur = Some(SessionState(t, t, 1, v))
      }
    }
    // close by timeout: no future row can extend a session the
    // watermark has passed by more than the gap
    cur match {
      case Some(s) if wm > s.lastTs + gapMs =>
        out ::= SessionOut(uid, new Timestamp(s.start), new Timestamp(s.lastTs), s.n, s.total)
        cur = None
      case _ => ()
    }
    val next =
      if (pending.isEmpty && cur.isEmpty) None
      else Some(OooState(pending, cur))
    (out.reverse, next)
  }

  def sessionizeOutOfOrder(
      events: Dataset[SessionEvent], gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OooState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[SessionEvent], state: GroupState[OooState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption.getOrElse(OooState(Nil, None))
          val fresh = if (state.hasTimedOut) Nil else evs.map(e => (e.ts.getTime, e.value)).toSeq
          val (out, next) = oooAdvance(uid, prior, fresh, wm, gapMs)
          next match {
            case None => if (state.exists) state.remove()
            case Some(st) =>
              state.update(st)
              // wake at the next decision point: the earliest buffered
              // release, or the open session's close deadline — always
              // strictly above the current watermark (Spark rejects
              // stale timeouts; st survived advance(), so both
              // candidates already exceed wm except the exact-equality
              // edge the +1 covers)
              val candidates = st.buf.map(_._1) ++ st.open.map(_.lastTs + gapMs)
              state.setTimeoutTimestamp(math.max(candidates.min, wm + 1))
          }
          out.iterator
      }
  }

  /** Start a streaming sink to parquet with checkpointing (exactly-once
    * file output), or to an in-memory table for tests.
    */
  def startFileSink(df: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(trigger).start()

  /** STREAMING DELTA SINK (round 18): foreachBatch →
    * [[graft.ops.DeltaWrite.append]] with a per-epoch `txn` marker —
    * the protocol's application-transaction rule makes a REPLAYED
    * epoch (restart after a crash between the table commit and the
    * streaming checkpoint write) a no-op, i.e. exactly-once appends on
    * top of foreachBatch's at-least-once delivery. This closes the
    * incremental loop with [[graft.ops.DeltaLog.readChanges]]'s
    * open-ended tail: crawl → dedup → append → downstream CDF poll.
    * Micro-batches stay fully distributed (append is one `df.write`);
    * only the commit JSON is driver work. An EMPTY micro-batch
    * commits nothing — replaying it is equally empty, so idempotence
    * holds without a marker. */
  def startDeltaSink(df: DataFrame, tableDir: String, checkpoint: String,
      appId: String, partitionBy: Seq[String] = Seq.empty,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.DeltaWrite.append(batch.sparkSession, batch, tableDir,
            partitionBy, txn = Some((appId, epochId)))
          ()
        }
      }
      .start()

  /** STREAMING ICEBERG SINK (round 18): the [[startDeltaSink]]
    * mirror — foreachBatch → [[graft.ops.IcebergWrite.append]] with
    * the epoch id riding the snapshot SUMMARY map
    * (graft-app-id/graft-epoch, the spec's home for writer-defined
    * commit metadata), so a replayed epoch is a no-op and each
    * micro-batch is one snapshot the round-17 incremental append
    * scan ([[graft.ops.Iceberg.readAppendsBetween]]) can poll. */
  def startIcebergSink(df: DataFrame, tableDir: String, checkpoint: String,
      appId: String, partitionBy: Seq[String] = Seq.empty,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.IcebergWrite.append(batch.sparkSession, batch, tableDir,
            partitionBy = partitionBy, txn = Some((appId, epochId)))
          ()
        }
      }
      .start()

  /** Memory sink = gate/test surface, deliberately started with few
    * state partitions ([[graft.GraftSession.gateStatePartitions]]: the
    * session's count, capped at 8). A production `startFileSink` query
    * inherits the session setting untouched — at real stream volumes
    * MORE state partitions is the correct direction, and this is why
    * the number is per-query. The override rides a CLONED session
    * (SessionBridge), so the caller's session conf is never touched —
    * a set/restore window on the shared conf would race with
    * concurrent batch work in the same session.
    */
  def startMemorySink(df: DataFrame, name: String, mode: String = "append"): StreamingQuery = {
    import org.apache.spark.sql.graftbridge.SessionBridge
    val caller = df.sparkSession
    val isolated = SessionBridge.withConfOverrides(df,
      Map(graft.GraftSession.gateStatePartitions(caller),
        // local temp checkpoints: manage WAL + state files via
        // java.nio (see NioCheckpointFileManager) — the default
        // FileContext manager forks a chmod per file create on hosts
        // without libhadoop.so, ~200 ms per state-store commit
        "spark.sql.streaming.checkpointFileManagerClass" ->
          classOf[NioCheckpointFileManager].getName))
    val writer = isolated.writeStream.format("memory").queryName(name).outputMode(mode)
    // Checkpoint on RAM-backed scratch when available: every micro-
    // batch fsyncs the offset WAL, the commit WAL, and one state delta
    // per partition PER stateful store (a stream-stream join keeps 4 —
    // 34 fsyncs/batch at 8 partitions), so on a disk-backed temp dir
    // the replay gates pay device sync latency, not operator work
    // (guide §1: measure the computation, not the sink). This is the
    // GATE/TEST surface only — production sinks (startFileSink /
    // startDeltaSink / startIcebergSink) keep their caller-provided
    // durable checkpoint paths untouched, where durability is the
    // point. Override dir via SPARK_GRAFT_STREAM_SCRATCH.
    val q = memorySinkScratch match {
      case Some(root) =>
        val ckpt = java.nio.file.Files.createTempDirectory(root, name)
        // Spark never auto-deletes an EXPLICIT checkpointLocation on
        // stop, and these live on tmpfs (ADVICE r18 #2: a long session
        // running many gates would otherwise accumulate WAL/state files
        // in RAM) — so stop() deletes this query's dir; the shutdown
        // hook on the scratch root stays as the backstop.
        new CleanupOnStopQuery(writer.option("checkpointLocation", ckpt.toString).start(), ckpt)
      case None => writer.start()
    }
    // the memory table registered in the clone's catalog, invisible to
    // the caller's session — mirror its (live, sink-backed) plan back
    SessionBridge.mirrorTempView(caller, isolated.sparkSession.table(name), name)
    q
  }

  /** Delegating [[StreamingQuery]] whose `stop()` additionally removes
    * the query's tmpfs checkpoint directory (see [[startMemorySink]]).
    */
  private final class CleanupOnStopQuery(
      underlying: StreamingQuery, ckpt: java.nio.file.Path) extends StreamingQuery {
    override def name: String = underlying.name
    override def id: java.util.UUID = underlying.id
    override def runId: java.util.UUID = underlying.runId
    override def sparkSession: org.apache.spark.sql.SparkSession = underlying.sparkSession
    override def isActive: Boolean = underlying.isActive
    override def exception: Option[org.apache.spark.sql.streaming.StreamingQueryException] =
      underlying.exception
    override def status: org.apache.spark.sql.streaming.StreamingQueryStatus = underlying.status
    override def recentProgress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      underlying.recentProgress
    override def lastProgress: org.apache.spark.sql.streaming.StreamingQueryProgress =
      underlying.lastProgress
    override def awaitTermination(): Unit = underlying.awaitTermination()
    override def awaitTermination(timeoutMs: Long): Boolean =
      underlying.awaitTermination(timeoutMs)
    override def processAllAvailable(): Unit = underlying.processAllAvailable()
    override def stop(): Unit = {
      underlying.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(); ()
      }
      try rm(ckpt.toFile) catch { case _: Throwable => () }
    }
    override def explain(): Unit = underlying.explain()
    override def explain(extended: Boolean): Unit = underlying.explain(extended)
  }

  /** One per-JVM scratch root for memory-sink checkpoints, on tmpfs
    * when the platform has one (explicit checkpoint locations are not
    * auto-deleted on stop, so everything goes under a single root a
    * shutdown hook removes). None → Spark's default temp-checkpoint
    * behavior, unchanged. */
  private lazy val memorySinkScratch: Option[java.nio.file.Path] = {
    val base = sys.env.get("SPARK_GRAFT_STREAM_SCRATCH")
      .map(java.nio.file.Paths.get(_))
      .filter(java.nio.file.Files.isWritable)
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isWritable(shm)) Some(shm) else None
      }
    base.map { b =>
      val root = java.nio.file.Files.createTempDirectory(b, "graft_stream_ckpt_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(); ()
        }
        rm(root.toFile)
      }))
      root
    }
  }
}
