package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge.{scope, Materializing}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming replacements for the reference's Lambda pipeline
  * (SURVEY §2.A/§2.H; reference snapshot: /root/reference/README.md:1-44 —
  * the 2015 AirPair "aws-lambda-stream-processing" post's repo, which
  * contains no code; the capability surface is reconstructed in SURVEY §0).
  * The mapping:
  *
  *   Kinesis stream + shard        → streaming DataFrame + its partitions
  *   event-source-mapping poller   → MicroBatchExecution trigger loop
  *   handler(event, context)       → the transform lambdas / foreachBatch
  *   DynamoDB counters             → windowed agg in update mode + state store
  *   sequence-number checkpoints   → checkpointLocation offset/commit logs
  *   at-least-once + idempotency   → exactly-once file sinks / idempotent
  *                                   foreachBatch upserts
  *
  * Each job is a pure DataFrame→DataFrame function so the identical plan is
  * unit-testable via MemoryStream and runnable against a file source.
  */
object StreamingJobs {

  /** A1/A3: file-backed stream source standing in for Kinesis — replayable,
    * ordered within a partition, rate-limited via maxFilesPerTrigger.
    *
    * readStream needs an explicit schema, but the driver's events encoding
    * has changed across rounds (long nanos → TIMESTAMP(MICROS,ntz)), so the
    * schema is probed from any files already staged in `dir` and `ts`
    * normalized through the same adaptive path as the batch loader. An
    * EMPTY landing zone (the start-watching-before-files-arrive shape)
    * can't be probed — it falls back to the current driver encoding
    * (micros NTZ), which the adaptive normalizer handles like any other.
    *
    * The probe also validates that every staged file agrees on the `ts`
    * physical type and fails fast with a clear message on mixed input:
    * a landing zone holding pre-r8 long-nanos files alongside r8
    * micros-NTZ files (plausible across a driver-round boundary) would
    * otherwise either die mid-stream with a parquet type mismatch or
    * silently normalize only one encoding. Long nanos are read through
    * the legacy conf, which [[graft.Tables.readNanosTsAsLong]] sets only
    * when a staged file stores `ts` as nanos. Footer reads per staged
    * file, start-up only; a single encoding per directory is the
    * documented precondition this check enforces.
    */
  def fileSource(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    useForkFreeCheckpoints(spark)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // RECURSIVE listing: a partitioned landing zone (day=…/part-*.parquet)
    // stages its files in subdirectories — a top-level-only probe would
    // see nothing, fall back to the default schema, and pass the
    // mixed-encoding check vacuously, which is the silent failure this
    // probe exists to prevent
    val staged =
      if (fs.exists(dirPath)) {
        val it = fs.listFiles(dirPath, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val s = it.next()
          val name = s.getPath.getName
          if (s.isFile && name.endsWith(".parquet") && !name.startsWith("_"))
            buf += s.getPath.toString
        }
        buf.toArray
      } else Array.empty[String]
    graft.Tables.readNanosTsAsLong(spark, staged.toSeq)
    val tsEncodings = staged
      .map(f => spark.read.parquet(f).schema
        .find(_.name == "ts").map(_.dataType.sql).getOrElse("<missing>"))
      .distinct
    require(tsEncodings.length <= 1,
      s"mixed ts encodings staged in $dir (${tsEncodings.mkString(", ")}): " +
        "the file-source stream requires a single ts encoding per landing " +
        "zone — split mixed-era files into separate directories")
    val probed =
      if (staged.nonEmpty) spark.read.parquet(staged.head).schema
      else StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", org.apache.spark.sql.types.TimestampNTZType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType)))
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(probed)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
  }

  /** H1+H4: event-time tumbling window counters with a watermark — the
    * DynamoDB per-minute ADD counter pattern, upgraded to event time with
    * bounded state and late-data drop.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** H2: sliding-window counters (1 h window, 15 min slide) with a
    * watermark — every event lands in 4 overlapping windows. Identical
    * window expression to the oracle-checked batch twin
    * (`q_window_sliding`); StreamingSpec proves stream == batch.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** H5: streaming dedup on the record id within the watermark horizon —
    * the idempotent-consumer pattern (conditional DynamoDB put on eventID).
    */
  def dedupByEventId(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates("event_id", "ts")

  /** C9: stream-static enrichment join (the DynamoDB GetItem lookup). */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), events("user_id") === dim("c_custkey"), "left")

  /** C10: stream-stream join — correlate two live streams on a key within
    * a time bound (click → purchase attribution within 30 min). Watermarks
    * on both sides bound the join state; the range condition lets Spark
    * expire buffered rows.
    */
  def correlate(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("ts", "10 minutes").alias("c")
      .join(
        purchases.withWatermark("ts", "10 minutes").alias("p"),
        expr("""c.user_id = p.user_id
                AND p.ts >= c.ts
                AND p.ts <= c.ts + INTERVAL 30 MINUTES"""))
      .select(col("c.event_id").as("click_id"), col("p.event_id").as("purchase_id"),
        col("c.user_id").as("user_id"))

  /** C10b: stream-stream LEFT OUTER join — same key + time bound as
    * [[correlate]], but a click that finds no purchase inside its 30 min
    * window is still emitted (purchase columns null) once the watermark
    * proves no match can arrive. The null row appears only AFTER both
    * watermarks pass `click.ts + 30 min` — state for the click is held
    * exactly that long and then evicted, so unmatched-side memory is
    * bounded by the join window, not the stream length (what makes the
    * outer form viable on an unbounded 100 TB/day stream).
    */
  def correlateOuter(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("ts", "10 minutes").alias("c")
      .join(
        purchases.withWatermark("ts", "10 minutes").alias("p"),
        expr("""c.user_id = p.user_id
                AND p.ts >= c.ts
                AND p.ts <= c.ts + INTERVAL 30 MINUTES"""),
        "leftOuter")
      .select(col("c.event_id").as("click_id"), col("p.event_id").as("purchase_id"),
        col("c.user_id").as("user_id"))

  /** Registers [[ForkFreeCheckpointFileManager]] as the session's
    * checkpoint file manager; ONE definition, called by [[fileSource]] and
    * by every sink builder below, so no graft stream can miss it.
    *
    * Why (NOTES fact #26): Hadoop 3.4's `RawLocalFileSystem` without
    * `libhadoop` launches a shell process for two calls on the checkpoint
    * path. `setPermission` runs `chmod` for every file it creates (data
    * file and `.crc`, from `LocalFSFileOutputStream.<init>`) and after
    * every `mkdirs`; `FileUtil.readLink` runs `readlink` for every rename
    * through Spark's default manager (`FileContext.rename` ->
    * `getFileLinkStatus`). The offset, commit and source logs and every
    * state partition's delta file and checksum file pay this on each
    * trigger: jstack samples of the benchmark's stream window sat in
    * `Shell.runCommand` under `HDFSMetadataLog.add` and under
    * `ChecksumCheckpointFileManager` in `HDFSBackedStateStore.commit`,
    * whose commit summed to 360-420 ms over 4 partitions for a 10-row
    * state. It is also why the HDFS-backed and RocksDB providers measured
    * the same and why more state partitions (more cores) made triggers
    * slower. Spark's stock `FileSystemBasedCheckpointFileManager` alone
    * removes only the `readlink` launches; the `chmod` per created file
    * stays.
    */
  private[graft] def useForkFreeCheckpoints(spark: SparkSession): Unit =
    spark.conf.set(ForkFreeCheckpointFileManager.ConfKey,
      classOf[ForkFreeCheckpointFileManager].getName)

  /** transformWithState requires the RocksDB state-store provider
    * (NOTES fact #12); ONE definition so a provider/conf change cannot
    * miss one of the stateful jobs that call it.
    */
  private def requireRocksDb(spark: SparkSession): Unit =
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  // ---- H6: arbitrary keyed state — sessionization with a timeout ----

  case class SessionInput(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  case class SessionOut(user_id: Long, n_events: Int, sum_value: Double, duration_sec: Long)

  /** Emits a SessionOut when a user goes quiet for `gapMinutes` (event-time
    * timeout). This is what the reference could NOT do in stateless Lambda
    * without an external DynamoDB state machine.
    */
  def sessionize(events: Dataset[SessionInput], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.n, s.sum, (s.last - s.start) / 1000))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { r =>
              val t = r.ts.getTime
              cur match {
                case Some(s) if t - s.last < gapMs =>
                  // an out-of-order (but above-watermark) event must not
                  // rewind the session bounds
                  cur = Some(s.copy(start = math.min(s.start, t),
                    last = math.max(s.last, t), n = s.n + 1, sum = s.sum + r.value))
                case Some(s) =>
                  closed += SessionOut(user, s.n, s.sum, (s.last - s.start) / 1000)
                  cur = Some(SessionState(t, t, 1, r.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, r.value))
              }
            }
            cur.foreach { s =>
              // a late batch can leave (last + gap) at or below the current
              // watermark — setTimeoutTimestamp would throw and kill the
              // query; such a session is already expired, close it inline
              val wm = state.getCurrentWatermarkMs()
              if (s.last + gapMs <= wm) {
                closed += SessionOut(user, s.n, s.sum, (s.last - s.start) / 1000)
                state.remove()
              } else {
                state.update(s)
                state.setTimeoutTimestamp(s.last + gapMs)
              }
            }
            closed.result().iterator
          }
      }
  }

  // ---- H6 (Spark 4 API): transformWithState sessionizer with TIMERS ----

  /** The [[sessionize]] semantics on the modern transformWithState API,
    * with event-time TIMERS doing the gap detection: each batch registers
    * a timer at `last + gap`, and the session closes in
    * [[SessionTimerProcessor.handleExpiredTimer]] when the watermark
    * passes it. Stale timers (the session was extended after they were
    * registered) are detected by comparing the expiry to the CURRENT
    * deadline in state and ignored — cheaper at scale than a
    * delete-and-reregister round-trip against the timer store per batch,
    * and the no-op expiry costs one state read.
    */
  class SessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionInput, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState](
        "session", org.apache.spark.sql.Encoders.product[SessionState],
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SessionInput],
        timers: TimerValues): Iterator[SessionOut] = {
      // sessions can close MID-batch on a gap, so per-key event-time order
      // inside the batch is semantically required here (unlike the funnel's
      // chain-of-minima); the sort is bounded by this key's batch rows
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var cur = if (state.exists()) Some(state.get()) else None
      val closed = Seq.newBuilder[SessionOut]
      sorted.foreach { r =>
        val t = r.ts.getTime
        cur match {
          case Some(s) if t - s.last < gapMs =>
            // an out-of-order (but above-watermark) event must not rewind
            // the session bounds
            cur = Some(s.copy(start = math.min(s.start, t),
              last = math.max(s.last, t), n = s.n + 1, sum = s.sum + r.value))
          case Some(s) =>
            closed += SessionOut(key, s.n, s.sum, (s.last - s.start) / 1000)
            cur = Some(SessionState(t, t, 1, r.value))
          case None =>
            cur = Some(SessionState(t, t, 1, r.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // registering a timer at-or-below the watermark is fine with this
        // API (it fires on the next eligibility check) — no inline-close
        // workaround needed, unlike GroupState.setTimeoutTimestamp
        getHandle.registerTimer(s.last + gapMs)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      (if (state.exists()) Some(state.get()) else None) match {
        case Some(s) if expired.getExpiryTimeInMs() >= s.last + gapMs =>
          state.clear()
          Iterator.single(SessionOut(key, s.n, s.sum, (s.last - s.start) / 1000))
        case _ => Iterator.empty // stale timer: the session was extended
      }
    }
  }

  /** H6: timer-based sessionization stream (the transformWithState twin of
    * [[sessionize]]; StreamingSpec proves the two emit identical sessions).
    */
  def sessionizeTimers(events: Dataset[SessionInput], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    requireRocksDb(events.sparkSession)
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMinutes * 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  // ---- H6 (Spark 4 API): transformWithState running counters ----

  case class UserTotal(user_id: Long, n: Long, total: Double)

  /** Shared state encoding + accumulation for the running-counter
    * processors — one source of truth for the counter-merge logic whether
    * or not the processor is seeded with initial state.
    */
  trait CounterLogic
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionInput, UserTotal] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient protected var state: ValueState[(Long, Double)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)](
        "totals", org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SessionInput],
        timers: TimerValues): Iterator[UserTotal] = {
      val (n0, t0) = if (state.exists()) state.get() else (0L, 0.0)
      var n = n0
      var t = t0
      rows.foreach { r => n += 1; t += r.value }
      state.update((n, t))
      Iterator.single(UserTotal(key, n, t))
    }
  }

  /** The DynamoDB per-key ADD counter as a Spark 4 StatefulProcessor:
    * explicit ValueState, update-mode emission of the new running totals.
    * Requires the RocksDB state store provider (set by [[runningCounters]]).
    */
  class RunningCounterProcessor extends CounterLogic

  /** H6 via the Spark 4 transformWithState API (the modern replacement for
    * flatMapGroupsWithState; state is store-backed, schema'd, TTL-capable).
    */
  def runningCounters(events: Dataset[SessionInput]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    requireRocksDb(events.sparkSession)
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningCounterProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  // ---- H6: streaming RFM maintenance (the q_rfm_segments feeder) ----

  case class RfmInput(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class RfmOut(user_id: Long, fresh_us: Long, freq: Long, cents: Long)

  /** Streaming twin of q_rfm_segments' per-user aggregates: last-purchase
    * epoch-µs "freshness", purchase count, exact cent spend — the hot
    * per-user state a CRM serves while the quintile CUTS are recomputed
    * batch-side (rank thresholds need the population; the per-user
    * numbers do not). State is O(1) per user and the merge
    * (max, +count, +cents) is commutative over exact integers, so —
    * like the HLL maintainer — replay equality against the batch
    * aggregate is EXACT with no ordering precondition; exactly-once per
    * event is the only contract (upsert-sink replay discharges
    * at-least-once). Cents are rounded per row with [[graft.operators.Ql.rd]],
    * the proven JVM twin of the batch `Ql.r` column rounding.
    */
  class RfmProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, RfmInput, RfmOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("rfm",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    private def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000) * 1000000L + ts.getNanos / 1000

    override def handleInputRows(key: Long, rows: Iterator[RfmInput],
        timers: TimerValues): Iterator[RfmOut] = {
      var (fresh, freq, cents) =
        if (st.exists()) st.get() else (Long.MinValue, 0L, 0L)
      rows.foreach { r =>
        fresh = math.max(fresh, micros(r.ts))
        freq += 1
        cents += graft.operators.Ql.rd(r.value * 100, 0).toLong
      }
      st.update((fresh, freq, cents))
      Iterator.single(RfmOut(key, fresh, freq, cents))
    }
  }

  def rfmStream(purchases: Dataset[RfmInput]): Dataset[RfmOut] = {
    import purchases.sparkSession.implicits._
    requireRocksDb(purchases.sparkSession)
    purchases
      .groupByKey(_.user_id)
      .transformWithState(new RfmProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  // ---- H6: transformWithState funnel stage machine ----

  case class FunnelInput(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class FunnelStage(user_id: Long, stage: Int, ts_ms: Long)

  /** Per-user view→click→purchase stage machine: stage k+1 requires its
    * event STRICTLY after the stage-k anchor (the streaming twin of the
    * batch `q_funnel` join cascade — the two agree when events arrive in
    * event-time order). This is the reference's per-user DynamoDB state
    * machine as first-class keyed state.
    */
  class FunnelProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, FunnelInput, FunnelStage] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[(Int, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Int, Long)](
        "funnel", org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaInt,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FunnelInput],
        timers: TimerValues): Iterator[FunnelStage] = {
      val (st0, anchor0) =
        if (state.exists()) state.get() else (0, Long.MinValue)
      // Terminal keys (stage 3) can never advance — skip the scan AND the
      // state write. Quiescent keys below also skip the write: a RocksDB
      // put (+ changelog entry) per untouched key per batch is the
      // dominant per-key cost once most of the population has settled.
      if (st0 == 3) return Iterator.empty
      var st = st0
      var anchor = anchor0
      // Micro-batches carry no intra-batch order promise, but processing
      // in event-time order is equivalent to a chain of minima: the
      // earliest view, then the earliest click STRICTLY after it, then
      // the earliest purchase strictly after that. So one unsorted pass
      // suffices: track the running view minimum (O(1)) and only the
      // candidate click/purchase timestamps still reachable from the
      // current stage — never materialize or sort the whole batch. (The
      // click/purchase buffers are still O(matching events) for this key
      // in this batch: "min strictly after an anchor known only at end
      // of pass" cannot be answered from a running scalar.)
      var vMin = Long.MaxValue
      val clicks = scala.collection.mutable.ArrayBuffer.empty[Long]
      val purchases = scala.collection.mutable.ArrayBuffer.empty[Long]
      rows.foreach { r =>
        val t = r.ts.getTime
        r.event_type match {
          case "view" if st == 0     => if (t < vMin) vMin = t
          case "click" if st <= 1    => clicks += t
          case "purchase" if st <= 2 => purchases += t
          case _                     => ()
        }
      }
      val out = Seq.newBuilder[FunnelStage]
      def minAfter(ts: scala.collection.mutable.ArrayBuffer[Long], lo: Long): Long = {
        var m = Long.MaxValue
        ts.foreach(t => if (t > lo && t < m) m = t)
        m
      }
      if (st == 0 && vMin != Long.MaxValue) {
        st = 1; anchor = vMin; out += FunnelStage(key, 1, vMin)
      }
      if (st == 1) {
        val c = minAfter(clicks, anchor)
        if (c != Long.MaxValue) { st = 2; anchor = c; out += FunnelStage(key, 2, c) }
      }
      if (st == 2) {
        val p = minAfter(purchases, anchor)
        if (p != Long.MaxValue) { st = 3; anchor = p; out += FunnelStage(key, 3, p) }
      }
      if (st != st0 || anchor != anchor0) state.update((st, anchor))
      out.result().iterator
    }
  }

  /** H6: funnel stages as a stream — emits a row each time a user advances
    * a stage. RocksDB state store, same as every stateful job here.
    */
  def funnelStages(events: Dataset[FunnelInput]): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    requireRocksDb(events.sparkSession)
    events
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  case class AttrInput(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String, value: Double)
  case class AttrOut(user_id: Long, purchase_id: Long, attributed: Int, value: Double)

  /** H6: streaming last-touch attribution — the transformWithState twin
    * of the batch `q_attribution` carry window. Per-user state is ONE
    * tuple (last click's epoch-µs, event_id); each micro-batch merges
    * its clicks and purchases in (ts, event_id) order with a two-pointer
    * sweep, so a purchase is credited iff a click precedes it by row
    * order within 72 h — the exact batch semantics, including the
    * same-timestamp tiebreak on event_id. Per-key work is
    * O(batch events log batch events) for the sort of THIS key's slice
    * of the trigger interval (bounded by per-user ingest rate, not
    * stream length); state is O(1) per user. Cross-batch event-time
    * order is the equivalence precondition (watermark-ordered replay),
    * as for the funnel stage machine.
    */
  class AttributionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, AttrInput, AttrOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    private val windowUs = 259200000000L // 72 h
    @transient private var lastClick: ValueState[(Long, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      lastClick = getHandle.getValueState[(Long, Long)](
        "last_click", org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    private def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000) * 1000000L + ts.getNanos / 1000

    override def handleInputRows(key: Long, rows: Iterator[AttrInput],
        timers: TimerValues): Iterator[AttrOut] = {
      val clicks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val purchases = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      rows.foreach { r =>
        r.event_type match {
          case "click"    => clicks += ((micros(r.ts), r.event_id))
          case "purchase" => purchases += ((micros(r.ts), r.event_id, r.value))
          case _          => ()
        }
      }
      val cs = clicks.sortInPlace()
      val ps = purchases.sortBy(p => (p._1, p._2))
      var cur = if (lastClick.exists()) lastClick.get() else (Long.MinValue, Long.MinValue)
      var ci = 0
      val out = Seq.newBuilder[AttrOut]
      ps.foreach { case (pt, pid, v) =>
        // consume clicks that precede this purchase in (ts, id) row order
        while (ci < cs.length &&
            (cs(ci)._1 < pt || (cs(ci)._1 == pt && cs(ci)._2 < pid))) {
          cur = cs(ci); ci += 1
        }
        val attributed =
          cur._1 != Long.MinValue && pt - cur._1 <= windowUs
        out += AttrOut(key, pid, if (attributed) 1 else 0, v)
      }
      while (ci < cs.length) { cur = cs(ci); ci += 1 }
      if (cur._1 != Long.MinValue) lastClick.update(cur)
      out.result().iterator
    }
  }

  def attributionStream(events: Dataset[AttrInput]): Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    requireRocksDb(events.sparkSession)
    events
      .groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  // ---- H6/CDC: streaming SCD2 (type-2 dimension) span maintenance ----

  case class Scd2Input(custkey: Long, ts: java.sql.Timestamp, ok: Long, prio: String)
  case class Scd2Out(custkey: Long, version: Int, priority: String,
      valid_from: java.sql.Timestamp, valid_to: Option[java.sql.Timestamp],
      is_current: Int)
  // valid_from is stored at MICROSECOND precision (epoch micros, the same
  // resolution as the batch rebuild's sort key) so a closed span's
  // re-emitted valid_from is bit-identical to the open span's original
  // timestamp even for sub-millisecond inputs.
  case class Scd2Span(version: Int, prio: String, vfUs: Long)

  /** Streaming maintenance twin of the batch `q_scd2_history` rebuild —
    * the CDC-into-feature-store path: per-key state is ONE open span
    * (version, attribute value, valid_from); each arriving change row
    * either extends the open span (same value — no emission), or closes
    * it and opens the next version. Emissions are span UPSERTS keyed by
    * (custkey, version): an open row (`is_current=1`, null `valid_to`)
    * when a span starts, superseded by its closed row (`is_current=0`,
    * `valid_to` = the successor's start) when it ends — exactly the
    * at-most-two writes per span a MERGE INTO would do, so a keyed
    * upsert sink ([[upsertSink]]) materializes the same table the batch
    * gaps-and-islands rebuild produces. Within a batch rows are sorted
    * by (ts, ok) — the batch window's sort key; across batches
    * event-time-ordered replay is the equivalence precondition, as for
    * the funnel/attribution processors. State is O(1) per key; per-key
    * work is O(batch slice log batch slice).
    */
  class Scd2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Scd2Input, Scd2Out] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var span: ValueState[Scd2Span] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      span = getHandle.getValueState[Scd2Span]("open_span",
        org.apache.spark.sql.Encoders.product[Scd2Span], TTLConfig.NONE)

    private def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000) * 1000000L + ts.getNanos / 1000

    private def fromMicros(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    override def handleInputRows(key: Long, rows: Iterator[Scd2Input],
        timers: TimerValues): Iterator[Scd2Out] = {
      val ordered = rows.toArray.sortBy(r => (micros(r.ts), r.ok))
      var cur = if (span.exists()) Option(span.get()) else None
      val out = Seq.newBuilder[Scd2Out]
      ordered.foreach { r =>
        cur match {
          case None =>
            cur = Some(Scd2Span(1, r.prio, micros(r.ts)))
            out += Scd2Out(key, 1, r.prio, r.ts, None, 1)
          case Some(s) if s.prio != r.prio =>
            out += Scd2Out(key, s.version, s.prio,
              fromMicros(s.vfUs), Some(r.ts), 0)
            cur = Some(Scd2Span(s.version + 1, r.prio, micros(r.ts)))
            out += Scd2Out(key, s.version + 1, r.prio, r.ts, None, 1)
          case _ => () // same value — the open span absorbs the row
        }
      }
      cur.foreach(span.update)
      out.result().iterator
    }
  }

  def scd2Stream(changes: Dataset[Scd2Input]): Dataset[Scd2Out] = {
    import changes.sparkSession.implicits._
    requireRocksDb(changes.sparkSession)
    changes
      .groupByKey(_.custkey)
      .transformWithState(new Scd2Processor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  // ---- H6: streaming EWMA over the daily rollup stream ----

  case class EwmaInput(ts: java.sql.Timestamp, event_type: String, x: Double)
  case class EwmaOut(day: java.sql.Timestamp, event_type: String,
      daily_avg: Double, ewma: Double)

  /** H6: streaming EWMA — the transformWithState twin of the batch
    * `q_ewma_daily` closed form. The batch query rewrites the recursion
    * s_t = α·x_t + (1-α)·s_{t-1} as one window sum, which is exact for
    * bounded series but carries a documented numeric envelope: the
    * (1-α)^{-t} weights overflow double range for year-long series. This
    * processor IS the long-series answer — it runs the recursion
    * directly, carrying ONE (s, last-day-µs) tuple per event_type, so
    * the state and the arithmetic are O(1) per day regardless of series
    * length and no term ever exceeds the data's own magnitude.
    *
    * Input is the daily rollup stream (one row per (day, event_type),
    * x = the 6-dp-rounded daily mean — in production the output of a
    * watermarked daily window aggregation, in the equivalence spec the
    * batch daily frame replayed time-sliced). Within a batch, rows are
    * processed in day order; across batches, day-ordered replay is the
    * equivalence precondition, as for the funnel/attribution/SCD2
    * processors. The last-day guard makes the recursion idempotent under
    * at-least-once delivery of the daily rollup: a re-delivered or
    * out-of-order row with day ≤ last-day is dropped instead of
    * double-applying the update.
    */
  class EwmaProcessor(alpha: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, EwmaInput, EwmaOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Double, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Double, Long)]("ewma_state",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    private def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000) * 1000000L + ts.getNanos / 1000

    override def handleInputRows(key: String, rows: Iterator[EwmaInput],
        timers: TimerValues): Iterator[EwmaOut] = {
      val ordered = rows.toArray.sortBy(r => micros(r.ts))
      var (s, lastUs) =
        if (st.exists()) st.get() else (0.0, Long.MinValue)
      val out = Seq.newBuilder[EwmaOut]
      ordered.foreach { r =>
        val us = micros(r.ts)
        if (us > lastUs) {
          s = if (lastUs == Long.MinValue) r.x else alpha * r.x + (1 - alpha) * s
          lastUs = us
          out += EwmaOut(r.ts, key,
            graft.operators.Ql.rd(r.x, 4), graft.operators.Ql.rd(s, 4))
        } // else: duplicate/late daily row — already applied, drop
      }
      if (lastUs != Long.MinValue) st.update((s, lastUs))
      out.result().iterator
    }
  }

  // ---- H6: streaming weighted top-k maintenance (bounded state) ----

  case class TopKInput(doc_id: Long, lang: String, n_chars: Long)
  case class TopKState(prio: Seq[Double], ids: Seq[Long], chars: Seq[Long])
  case class TopKOut(lang: String, seq: Long, rank: Int, doc_id: Long,
      n_chars: Long, priority: Double)

  /** H6: streaming maintenance of the per-language weighted top-k — the
    * serving-layer twin of `q_weighted_sample`'s ranking: each arriving
    * document computes the SAME rational priority key
    * w·u/(1−u) (u = first 56 md5 bits of the doc id over 2^56, w =
    * n_chars; identical IEEE operand order to the Column expression, so
    * stream and batch ranks cannot drift by an ulp), and the state per
    * language is the current top-k only — O(k) doubles, never a
    * window, never the corpus. Each batch emits the refreshed ranking
    * (Append + seq, the [[DriftProcessor]] convention); membership is a
    * pure function of (doc_id, n_chars), so replayed documents
    * re-insert idempotently (same key, same priority — the sorted-merge
    * dedups by doc_id). ScaleSmokeSpec proves the final emission equals
    * the batch per-language top-k under the production SQL expression.
    */
  class TopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, TopKInput, TopKOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(TopKState, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(TopKState, Long)]("topk_state",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.product[TopKState],
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    private def u56(docId: Long): Double = graft.operators.Ql.u56(docId)

    override def handleInputRows(key: String, rows: Iterator[TopKInput],
        timers: TimerValues): Iterator[TopKOut] = {
      val (s0, seq) =
        if (st.exists()) st.get() else (TopKState(Nil, Nil, Nil), 0L)
      val merged = new scala.collection.mutable.HashMap[Long, (Double, Long)]
      s0.ids.indices.foreach(i => merged(s0.ids(i)) = (s0.prio(i), s0.chars(i)))
      rows.foreach { r =>
        val u = u56(r.doc_id)
        merged(r.doc_id) = (r.n_chars * u / (1.0 - u), r.n_chars)
      }
      val top = merged.toSeq
        .map { case (id, (p, c)) => (p, id, c) }
        .sortBy { case (p, id, _) => (-p, id) }
        .take(k)
      st.update((TopKState(top.map(_._1), top.map(_._2), top.map(_._3)), seq + 1))
      top.iterator.zipWithIndex.map { case ((p, id, c), i) =>
        TopKOut(key, seq + 1, i + 1, id, c, graft.operators.Ql.rd(p, 4))
      }
    }
  }

  def topKStream(docs: Dataset[TopKInput], k: Int = 10): Dataset[TopKOut] = {
    import docs.sparkSession.implicits._
    requireRocksDb(docs.sparkSession)
    docs
      .groupByKey(_.lang)
      .transformWithState(new TopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  // ---- H6: streaming inverted-index maintenance (bounded state) ----

  case class TokenPosting(tok: String, doc_id: Long, cnt: Long)
  case class InvIndexState(df: Long, tf: Long, heads: Seq[Long])
  case class InvIndexRow(tok: String, df: Long, tf: Long, postings: String)

  /** H6: streaming maintenance of the retrieval index the batch
    * `q_inverted_index` builds — per-token document frequency, total
    * term frequency, and the head of the sorted doc-id posting list,
    * kept current under document arrivals (the index a serving layer
    * reads; completes the batch q_inverted_index / q_bm25_topk retrieval
    * family's streaming story). Input is one row per (document, token)
    * with the in-document count — the output of a per-batch
    * pre-aggregation, so the shuffle carries distinct pairs, not raw
    * token occurrences. State per token is (df, tf, ≤5 smallest
    * doc_ids): O(1), never a posting list proportional to the corpus —
    * the same hot-stopword guard as the batch build's head-5 truncation.
    *
    * df/tf are commutative sums and the head is min-5 of a union, so
    * unlike the funnel/SCD2 processors the merge is ARRIVAL-ORDER-
    * INDEPENDENT; the equivalence precondition is exactly-once delivery
    * per (document, token) pair — a re-delivered document would
    * double-count df/tf (dedupByEventId upstream is the production
    * answer; the generation-swap upsert sink already makes SINK-side
    * replays exact). Each batch re-emits the refreshed row per touched
    * token; tf strictly increases on every update, so it doubles as the
    * upsert version for keep-latest-by-version materialization.
    */
  class InvIndexProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, TokenPosting, InvIndexRow] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[InvIndexState] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[InvIndexState]("inv_index",
        org.apache.spark.sql.Encoders.product[InvIndexState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[TokenPosting],
        timers: TimerValues): Iterator[InvIndexRow] = {
      val batch = rows.toArray
      val prev = if (st.exists()) st.get() else InvIndexState(0L, 0L, Nil)
      val next = InvIndexState(
        prev.df + batch.length,
        prev.tf + batch.map(_.cnt).sum,
        (prev.heads ++ batch.map(_.doc_id)).sorted.take(5))
      st.update(next)
      Iterator.single(
        InvIndexRow(key, next.df, next.tf, next.heads.mkString(",")))
    }
  }

  def invIndexStream(occurrences: Dataset[TokenPosting]): Dataset[InvIndexRow] = {
    import occurrences.sparkSession.implicits._
    requireRocksDb(occurrences.sparkSession)
    occurrences
      .groupByKey(_.tok)
      .transformWithState(new InvIndexProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  // ---- D4×H6: streaming mergeable-sketch maintenance (HLL distinct) ----

  case class HllInput(event_type: String, user_id: Long)
  case class HllRow(event_type: String, n_rows: Long, estimate: Long)

  /** Streaming twin of the batch `hll_sketch_estimate(hll_sketch_agg(x))`
    * pair (the D4 mergeable-sketch family): per event type the state is
    * ONE serialized datasketches HllSketch — lgConfigK=12, HLL_8, the
    * exact constants Spark's HllSketchAgg hardcodes (verified against the
    * spark-catalyst 4.1.2 bytecode: `bipush 12`, `TgtHllType.HLL_8`,
    * LongType → `HllSketch.update(J)`, and the SQL estimate is
    * `Math.round(getEstimate)`). Because HLL updates are commutative AND
    * idempotent-on-duplicates-of-a-value, the replay-equivalence proof
    * needs no arrival-order or delivery-count precondition at all: any
    * slicing of the input — even with redelivered rows, as long as every
    * row arrives at least once — produces the byte-identical sketch a
    * single batch pass builds, so the streamed estimate equals the batch
    * expression EXACTLY, not within tolerance. This is the property that
    * lets a serving layer keep per-key cardinalities hot under arrivals
    * and still reconcile against nightly batch backfills. n_rows counts
    * rows seen (at-least-once visible, so it is NOT exactly-once stable;
    * it strictly increases per update and serves as the upsert version).
    */
  class HllDistinctProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, HllInput, HllRow] {
    import org.apache.datasketches.hll.{HllSketch, TgtHllType}
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var sk: ValueState[Array[Byte]] = _
    @transient private var nRows: ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit = {
      sk = getHandle.getValueState[Array[Byte]]("hll_sketch",
        org.apache.spark.sql.Encoders.BINARY, TTLConfig.NONE)
      nRows = getHandle.getValueState[Long]("hll_rows",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[HllInput],
        timers: TimerValues): Iterator[HllRow] = {
      val sketch =
        if (sk.exists()) HllSketch.heapify(sk.get())
        else new HllSketch(12, TgtHllType.HLL_8)
      var seen = 0L
      rows.foreach { r => sketch.update(r.user_id); seen += 1 }
      val total = (if (nRows.exists()) nRows.get() else 0L) + seen
      sk.update(sketch.toUpdatableByteArray)
      nRows.update(total)
      Iterator.single(HllRow(key, total, Math.round(sketch.getEstimate)))
    }
  }

  def hllDistinctStream(in: Dataset[HllInput]): Dataset[HllRow] = {
    import in.sparkSession.implicits._
    requireRocksDb(in.sparkSession)
    in.groupByKey(_.event_type)
      .transformWithState(new HllDistinctProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  // ---- H6: Misra-Gries frequent items (bounded-error heavy hitters) ----

  case class MgInput(event_type: String, item: Long)
  case class MgState(ids: Seq[Long], counts: Seq[Long], decs: Long)
  case class MgOut(event_type: String, seq: Long, item: Long, est: Long,
      decs: Long)

  /** H6: streaming Misra-Gries frequent-items summary per key — the
    * bounded-memory heavy-hitters monitor (Misra & Gries 1982; merge
    * rule per Agarwal et al., "Mergeable Summaries", PODS 2012). State
    * per key is at most k (item, count) counters plus the cumulative
    * decrement offset: O(k), never the item domain — the piece the exact
    * [[TopKProcessor]] cannot promise when the domain explodes. Each
    * batch is counted exactly into a local map, merged into the
    * counters, and if more than k survive, the (k+1)-th largest count is
    * subtracted from all (the mergeable-summaries offset), dropping
    * non-positives. The DETERMINISTIC guarantee — est(x) ≤ true(x) ≤
    * est(x) + decs and decs ≤ N/(k+1) — holds for ANY arrival order and
    * any batch slicing (the merge is associative up to the guarantee),
    * which is what the ScaleSmokeSpec asserts against exact batch
    * counts; every item with true(x) > decs is necessarily tracked.
    * Emission is the refreshed counter table per batch (Append + seq,
    * the [[DriftProcessor]] convention).
    */
  class MisraGriesProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, MgInput, MgOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(MgState, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(MgState, Long)]("mg_state",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.product[MgState],
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[MgInput],
        timers: TimerValues): Iterator[MgOut] = {
      val (s0, seq) = if (st.exists()) st.get() else (MgState(Nil, Nil, 0L), 0L)
      val m = new scala.collection.mutable.HashMap[Long, Long]
      s0.ids.indices.foreach(i => m(s0.ids(i)) = s0.counts(i))
      rows.foreach(r => m(r.item) = m.getOrElse(r.item, 0L) + 1L)
      var decs = s0.decs
      if (m.size > k) {
        // subtract the (k+1)-th largest count from everyone, drop <= 0
        val d = m.values.toSeq.sorted(Ordering[Long].reverse)(k)
        decs += d
        m.mapValuesInPlace((_, c) => c - d)
        m.filterInPlace((_, c) => c > 0L)
      }
      val kept = m.toSeq.sortBy { case (id, c) => (-c, id) }
      st.update((MgState(kept.map(_._1), kept.map(_._2), decs), seq + 1))
      kept.iterator.map { case (id, c) => MgOut(key, seq + 1, id, c, decs) }
    }
  }

  def misraGriesStream(in: Dataset[MgInput], k: Int = 8): Dataset[MgOut] = {
    import in.sparkSession.implicits._
    requireRocksDb(in.sparkSession)
    in.groupByKey(_.event_type)
      .transformWithState(new MisraGriesProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  // ---- H6 / I9: hash-priority reservoir sample (order-independent) ----

  case class ResInput(event_type: String, event_id: Long)
  case class ResState(prio: Seq[Double], ids: Seq[Long])
  case class ResOut(event_type: String, seq: Long, rank: Int, event_id: Long,
      priority: Double)

  /** H6/I9: streaming uniform reservoir sample per key, maintained as
    * the k SMALLEST deterministic hash priorities (u = first 56 md5 bits
    * of the event id / 2^56 — the bottom-k-by-random-tag formulation of
    * reservoir sampling; with a uniform tag the bottom-k is exactly a
    * uniform k-subset). Because membership is a pure function of the
    * element set — not of arrival order — the merge is COMMUTATIVE and
    * idempotent (re-delivered ids overwrite themselves), so unlike
    * Vitter's algorithm R the replay equivalence is EXACT under any
    * slicing: ScaleSmokeSpec proves the final state equals the batch
    * bottom-k under the same expression. State per key is O(k) doubles.
    */
  class ReservoirProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, ResInput, ResOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(ResState, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(ResState, Long)]("res_state",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.product[ResState],
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[ResInput],
        timers: TimerValues): Iterator[ResOut] = {
      val (s0, seq) = if (st.exists()) st.get() else (ResState(Nil, Nil), 0L)
      val m = new scala.collection.mutable.HashMap[Long, Double]
      s0.ids.indices.foreach(i => m(s0.ids(i)) = s0.prio(i))
      rows.foreach(r => m(r.event_id) = graft.operators.Ql.u56(r.event_id))
      val bottom = m.toSeq.sortBy { case (id, u) => (u, id) }.take(k)
      st.update((ResState(bottom.map(_._2), bottom.map(_._1)), seq + 1))
      bottom.iterator.zipWithIndex.map { case ((id, u), i) =>
        ResOut(key, seq + 1, i + 1, id, graft.operators.Ql.rd(u, 6))
      }
    }
  }

  def reservoirStream(in: Dataset[ResInput], k: Int = 16): Dataset[ResOut] = {
    import in.sparkSession.implicits._
    requireRocksDb(in.sparkSession)
    in.groupByKey(_.event_type)
      .transformWithState(new ReservoirProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  // ---- H6: online SPC (XmR) monitor against frozen control limits ----

  case class SpcInput(ts: java.sql.Timestamp, event_type: String, x: Double)
  case class SpcLimits(event_type: String, xbar: Double, mrbar: Double)
  case class SpcState(lastDayUs: Long, nDays: Long, nOoc: Long,
      xbar: Double, mrbar: Double, seq: Long)
  case class SpcOut(event_type: String, seq: Long, n_days: Long,
      n_out_of_control: Long, ucl: Double, lcl: Double)

  /** H6: the streaming twin of `q_spc_chart` — an online Shewhart
    * individuals monitor against FROZEN control limits from the
    * profiling pass (the [[CusumProcessor]] / [[DriftProcessor]]
    * "load the profile, then watch the stream" shape; a deployed chart
    * pins its limits exactly as a deployed CUSUM pins μ). State per
    * type is O(1): the last-applied day (the [[EwmaProcessor]]
    * duplicate-day guard) and the running out-of-control count. Each
    * arriving daily mean is compared against x̄ ± 2.66·MR̄ computed
    * JVM-side with the same operand order as the batch expression, so
    * on a replay of the profiled window the final count equals the
    * batch `n_out_of_control` EXACTLY (ScaleSmokeSpec). Unprofiled
    * types are not monitored — the batch twin's join drops them the
    * same way.
    *
    * INPUT-ORDER CONTRACT: days must arrive non-decreasing per type
    * ACROSS micro-batches (within a batch the processor sorts). The
    * `us > lastUs` guard that makes at-least-once replay idempotent
    * also means a genuinely NEW day arriving after a later day has
    * been applied is dropped, silently diverging n_days /
    * n_out_of_control from the batch chart. This is the same
    * upstream-ordering contract as [[Scd2Processor]] / the funnel
    * processors: satisfy it with ordered landing files (as
    * ScaleSmokeSpec's time-sliced replay does) or a watermark-buffered
    * pre-sort; don't feed it shuffled days.
    */
  class SpcProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        String, SpcInput, SpcOut, SpcLimits] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[SpcState] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SpcState]("spc_state",
        org.apache.spark.sql.Encoders.product[SpcState], TTLConfig.NONE)

    override def handleInitialState(key: String, initial: SpcLimits,
        timers: TimerValues): Unit =
      st.update(SpcState(Long.MinValue, 0L, 0L, initial.xbar, initial.mrbar, 0L))

    private def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000) * 1000000L + ts.getNanos / 1000

    override def handleInputRows(key: String, rows: Iterator[SpcInput],
        timers: TimerValues): Iterator[SpcOut] = {
      if (!st.exists()) return Iterator.empty
      val s0 = st.get()
      var (lastUs, nDays, nOoc) = (s0.lastDayUs, s0.nDays, s0.nOoc)
      val ucl = s0.xbar + 2.66 * s0.mrbar
      val lcl = s0.xbar - 2.66 * s0.mrbar
      rows.toArray.sortBy(r => micros(r.ts)).foreach { r =>
        val us = micros(r.ts)
        if (us > lastUs) { // duplicate-day / replay guard
          if (r.x > ucl || r.x < lcl) nOoc += 1
          nDays += 1
          lastUs = us
        }
      }
      st.update(SpcState(lastUs, nDays, nOoc, s0.xbar, s0.mrbar, s0.seq + 1))
      if (nDays == 0) Iterator.empty
      else Iterator.single(SpcOut(key, s0.seq + 1, nDays, nOoc,
        graft.operators.Ql.rd(ucl, 4), graft.operators.Ql.rd(lcl, 4)))
    }
  }

  def spcMonitor(daily: Dataset[SpcInput],
      limits: Dataset[SpcLimits]): Dataset[SpcOut] = {
    import daily.sparkSession.implicits._
    requireRocksDb(daily.sparkSession)
    daily
      .groupByKey(_.event_type)
      .transformWithState(new SpcProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append(),
        limits.groupByKey(_.event_type))
  }

  // ---- H6: online CUSUM changepoint monitor (frozen reference mean) ----

  case class CusumInput(ts: java.sql.Timestamp, event_type: String, x: Double)
  case class CusumRef(event_type: String, mu: Double)
  case class CusumState(s: Double, nDays: Long, lastDayUs: Long,
      peakAbs: Double, peakDayUs: Long, peakCusum: Double)
  case class CusumOut(event_type: String, seq: Long, n_days: Long,
      peak_day: String, peak_cusum: Double, shift_side: String)

  /** H6: the streaming twin of `q_cusum_changepoint` — an online
    * level-shift alarm against a FROZEN reference mean from the
    * profiling pass (StatefulProcessorWithInitialState, the
    * [[DriftProcessor]] "load the profile, then watch the stream"
    * shape; the batch query's full-series mean is unknowable online, so
    * the deployed monitor pins it exactly as it pins PSI bin bounds).
    * Per event type the state is O(1): the raw running sum s, the day
    * count, the last-applied day (the [[EwmaProcessor]] idempotence
    * guard against re-delivered daily rows), and the running peak
    * (|cusum| maximum with first-day tiebreak — STRICT improvement only,
    * matching the batch query's `abs DESC, day ASC` WindowGroupLimit
    * pick). s accumulates raw and rounds only on emission/peak-compare
    * (4 dp via the scalar [[graft.operators.Ql.rd]]), mirroring the
    * batch query's round-the-window-sum arithmetic term for term: both
    * fold the SAME 6-dp daily means in day order, so the equivalence on
    * a day-ordered replay is exact, not approximate (ScaleSmokeSpec).
    */
  class CusumProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        String, CusumInput, CusumOut, CusumRef] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(CusumState, Double, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(CusumState, Double, Long)]("cusum_state",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.product[CusumState],
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInitialState(key: String, initial: CusumRef,
        timers: TimerValues): Unit =
      st.update((CusumState(0.0, 0L, Long.MinValue, -1.0, Long.MinValue, 0.0),
        initial.mu, 0L))

    private def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000) * 1000000L + ts.getNanos / 1000

    private def dayStr(us: Long): String =
      java.time.Instant.ofEpochSecond(us / 1000000L)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

    override def handleInputRows(key: String, rows: Iterator[CusumInput],
        timers: TimerValues): Iterator[CusumOut] = {
      // a type absent from the frozen reference has no μ to monitor
      // against — fabricating μ=0 would turn its raw running total into
      // a permanent phantom alarm. Unprofiled keys are not monitored
      // (the batch twin's inner join on mu drops them the same way).
      if (!st.exists()) return Iterator.empty
      val (s0, mu, seq) = st.get()
      var s = s0
      rows.toArray.sortBy(r => micros(r.ts)).foreach { r =>
        val us = micros(r.ts)
        // day ≤ last-applied-day → drop. Within a batch the sort makes
        // this pure duplicate suppression; ACROSS batches it assumes
        // day-ordered replay (the documented equivalence precondition
        // shared with EwmaProcessor) — a genuinely late cross-batch
        // backfill day is dropped, not retro-applied.
        if (us > s.lastDayUs) {
          val sum = s.s + (r.x - mu)
          val c = graft.operators.Ql.rd(sum, 4)
          val (pAbs, pDay, pC) =
            if (math.abs(c) > s.peakAbs) (math.abs(c), us, c)
            else (s.peakAbs, s.peakDayUs, s.peakCusum)
          s = CusumState(sum, s.nDays + 1, us, pAbs, pDay, pC)
        }
      }
      st.update((s, mu, seq + 1))
      if (s.nDays == 0) Iterator.empty
      else Iterator.single(CusumOut(key, seq + 1, s.nDays,
        dayStr(s.peakDayUs), s.peakCusum,
        if (s.peakCusum >= 0) "up" else "down"))
    }
  }

  def cusumMonitor(daily: Dataset[CusumInput],
      reference: Dataset[CusumRef]): Dataset[CusumOut] = {
    import daily.sparkSession.implicits._
    requireRocksDb(daily.sparkSession)
    daily
      .groupByKey(_.event_type)
      .transformWithState(new CusumProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append(),
        reference.groupByKey(_.event_type))
  }

  def ewmaStream(daily: Dataset[EwmaInput], alpha: Double = 0.3): Dataset[EwmaOut] = {
    import daily.sparkSession.implicits._
    requireRocksDb(daily.sparkSession)
    daily
      .groupByKey(_.event_type)
      .transformWithState(new EwmaProcessor(alpha),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  // ---- A6: crash-safe keyed upsert sink (generation + pointer swap) ----

  private def fsFor(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve the live generation of an upsert table: the `_CURRENT`
    * pointer file when present, else the highest-numbered COMPLETE
    * generation dir — one carrying Spark's `_SUCCESS` job-commit marker.
    * The marker matters: a crash mid-write leaves a partial gen dir
    * without `_SUCCESS`, and the fallback must never surface it (a fresh
    * table's first partial generation has no older pointer to hide
    * behind). The pointer can be absent either before the first commit
    * (→ only complete gens count) or in the instant between the delete
    * and rename of a swap (→ the newest complete gen is the committed
    * one); both cases resolve correctly here.
    */
  def currentGeneration(spark: SparkSession, path: String): Option[String] = {
    val fs = fsFor(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val ptr = new org.apache.hadoop.fs.Path(root, "_CURRENT")
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    } else if (fs.exists(root)) {
      val gens = fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("gen-"))
        .filter(g => fs.exists(new org.apache.hadoop.fs.Path(root, s"$g/_SUCCESS")))
      if (gens.isEmpty) None
      else Some(gens.maxBy(_.stripPrefix("gen-").toLong))
    } else None
  }

  /** Read the current state of an upsert table written by [[upsertSink]]. */
  def readUpserted(spark: SparkSession, path: String): Option[DataFrame] =
    currentGeneration(spark, path).map(g => spark.read.parquet(s"$path/$g"))

  /** Atomically repoint `_CURRENT` at `gen`: write a temp file, then
    * delete+rename (rename is atomic on HDFS-like filesystems; the
    * no-pointer window is covered by the highest-generation fallback).
    */
  private def commitPointer(spark: SparkSession, path: String, gen: String): Unit = {
    val fs = fsFor(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(root, "_CURRENT.tmp")
    val out = fs.create(tmp, true)
    try out.write(gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val ptr = new org.apache.hadoop.fs.Path(root, "_CURRENT")
    if (fs.exists(ptr)) fs.delete(ptr, false)
    if (!fs.rename(tmp, ptr))
      throw new java.io.IOException(s"pointer swap failed for $path")
  }

  /** A6: idempotent keyed upsert sink — the DynamoDB PutItem/UpdateItem
    * analog over a keyed parquet table: merge the micro-batch with the
    * current table, keep the latest row per key. Crash-safe: each batch
    * writes a NEW immutable generation directory (named by batchId), then
    * atomically swaps the `_CURRENT` pointer. Crash cases: mid-write, the
    * pointer still names the previous generation, so the replayed batch
    * re-merges from it and overwrites the partial dir; after the swap but
    * before the streaming commit log records the batch, the replayed
    * batch sees its own (complete) generation as current and no-ops
    * (at-least-once ⇒ exactly-once effect). All but the
    * two newest generations are pruned after the swap. At scale the table
    * would be partitioned by key range and only touched partitions
    * rewritten (or a lakehouse MERGE INTO).
    */
  def upsertSink(updates: DataFrame, path: String, checkpoint: String,
      key: String, versionCol: String) = {
    useForkFreeCheckpoints(updates.sparkSession)
    updates.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val gen = s"gen-$batchId"
        // Replay of a batch whose generation already committed (crash
        // after the pointer swap but before the streaming commit log
        // recorded the batch): the table already reflects this batch —
        // re-merging would read gen-N while overwriting gen-N (which
        // Spark rejects), so the correct exactly-once move is a no-op.
        // Sound because currentGeneration only ever returns a COMPLETE
        // generation (pointer advances after a full write; the no-pointer
        // fallback requires _SUCCESS) — a partial gen-N from a mid-write
        // crash is never mistaken for an applied batch.
        if (currentGeneration(spark, path).contains(gen)) {
          // re-commit the pointer in case the crash hit the swap window
          commitPointer(spark, path, gen)
        } else {
          // absent-table fallback ONLY when no generation exists yet — a
          // transient read failure must propagate, not wipe the table
          val current = readUpserted(spark, path).getOrElse(
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(key).orderBy(col(versionCol).desc)
          val merged = current.unionByName(batch)
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
          // reads the previous generation, writes a new one — never
          // overwrites its input, so no driver-side materialization needed
          merged.write.mode("overwrite").parquet(s"$path/$gen")
          commitPointer(spark, path, gen)
          // prune all but the two newest generations (current + rollback)
          val fs = fsFor(spark, path)
          fs.listStatus(new org.apache.hadoop.fs.Path(path))
            .map(_.getPath).filter(_.getName.startsWith("gen-"))
            .sortBy(-_.getName.stripPrefix("gen-").toLong)
            .drop(2)
            .foreach(fs.delete(_, true))
        }
        ()
      }
  }

  /** H4: late-data observability — rows the watermark dropped before the
    * stateful operator, summed over a query's recent progress. Late data is
    * counted and surfaced (the reference silently mis-bucketed it).
    * NOTE: `recentProgress` is a rolling buffer
    * (spark.sql.streaming.numRecentProgressUpdates, default 100), so this
    * sum is a recent-window count — fine for tests and short-lived jobs.
    * For a monotonic production total, attach a [[LateDropListener]].
    */
  def droppedLateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

  /** Monotonic per-query dropped-late-row totals via the listener bus —
    * unlike [[droppedLateRows]] this accumulates every progress event, so
    * long-running queries (beyond the ~100-entry recentProgress buffer)
    * keep an exact lifetime count to alert on.
    */
  class LateDropListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val totals = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()

    /** Lifetime dropped-late-row count for a query id. */
    def total(id: java.util.UUID): Long = totals.getOrDefault(id, 0L)

    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      // numRowsDroppedByWatermark is per-batch, so per-event accumulation
      // yields the monotonic lifetime total
      val dropped = event.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum
      if (dropped > 0)
        totals.merge(event.progress.id, Long.box(dropped),
          (a, b) => Long.box(a + b))
    }
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  }

  // ---- H6: bootstrap keyed state from a batch snapshot ----

  /** [[RunningCounterProcessor]] variant that seeds per-key state from a
    * batch snapshot before the first micro-batch — the "load the DynamoDB
    * table, then consume the stream" migration shape, via Spark 4's
    * StatefulProcessorWithInitialState.
    */
  class RunningCounterWithInitProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, SessionInput, UserTotal, UserTotal] with CounterLogic {
    override def handleInitialState(key: Long, initial: UserTotal,
        timers: org.apache.spark.sql.streaming.TimerValues): Unit =
      state.update((initial.n, initial.total))
  }

  /** H6: running counters seeded from a snapshot Dataset. */
  def runningCountersWithInit(events: Dataset[SessionInput],
      snapshot: Dataset[UserTotal]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    requireRocksDb(events.sparkSession)
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningCounterWithInitProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(),
        snapshot.groupByKey(_.user_id))
  }

  // ---- H6: online PSI drift monitor (bootstrapped reference) ----

  case class DriftInput(event_type: String, value: Double)
  case class DriftRef(event_type: String, bins: Seq[Long])
  case class DriftState(ref: Seq[Long], cur: Seq[Long], seq: Long)
  case class DriftOut(event_type: String, seq: Long, n_cur: Long, psi: Double)

  /** H6: the streaming twin of `q_psi_drift` — online drift detection
    * against a FROZEN reference histogram bootstrapped from the
    * profiling pass (StatefulProcessorWithInitialState, the
    * "load the profile, then watch the stream" shape). Per key the state
    * is (ref bins frozen, cur bins running, batch seq); each micro-batch
    * folds its values into the current histogram and emits the PSI so
    * far — same dense 10-bin grid, 0.5 Laplace smoothing, 8-dp per-bin
    * rounding and 4-dp output as the batch query, computed with the
    * scalar [[graft.operators.Ql.rd]] twin of the column rounding, so
    * the final emission equals the batch statistic on the same split
    * (ScaleSmokeSpec). Bin bounds are constructor constants from the
    * profiling pass, exactly as a deployed monitor pins them; O(bins)
    * state per key, O(rows + bins) work per batch.
    */
  class DriftProcessor(vmin: Double, vmax: Double, nBins: Int = 10)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        String, DriftInput, DriftOut, DriftRef] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[DriftState] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DriftState]("drift_state",
        org.apache.spark.sql.Encoders.product[DriftState], TTLConfig.NONE)

    override def handleInitialState(key: String, initial: DriftRef,
        timers: TimerValues): Unit =
      st.update(DriftState(initial.bins, Seq.fill(nBins)(0L), 0L))

    private def bin(v: Double): Int =
      math.min(nBins - 1, math.floor((v - vmin) / ((vmax - vmin) / nBins)).toInt)

    override def handleInputRows(key: String, rows: Iterator[DriftInput],
        timers: TimerValues): Iterator[DriftOut] = {
      val s = if (st.exists()) st.get()
        else DriftState(Seq.fill(nBins)(0L), Seq.fill(nBins)(0L), 0L)
      val cur = s.cur.toArray
      rows.foreach(r => cur(bin(r.value)) += 1)
      val tRef = s.ref.sum.toDouble + nBins * 0.5
      val tCur = cur.sum.toDouble + nBins * 0.5
      var psi = 0.0
      var i = 0
      while (i < nBins) {
        val p = (s.ref(i) + 0.5) / tRef
        val q = (cur(i) + 0.5) / tCur
        psi += graft.operators.Ql.rd((p - q) * math.log(p / q), 8)
        i += 1
      }
      val out = DriftOut(key, s.seq + 1, cur.sum, graft.operators.Ql.rd(psi, 4))
      st.update(DriftState(s.ref, cur.toSeq, s.seq + 1))
      Iterator.single(out)
    }
  }

  def driftMonitor(values: Dataset[DriftInput], reference: Dataset[DriftRef],
      vmin: Double, vmax: Double): Dataset[DriftOut] = {
    import values.sparkSession.implicits._
    requireRocksDb(values.sparkSession)
    values
      .groupByKey(_.event_type)
      .transformWithState(new DriftProcessor(vmin, vmax),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append(),
        reference.groupByKey(_.event_type))
  }

  /** A6/A7/H8: fan-out sink — one micro-batch, several destinations
    * (aggregate "DynamoDB" table + raw archive), the SNS/multi-sink shape.
    * The batch is truncated inside one materialization scope, so the two
    * writes scan the input once and its blocks are released when the
    * batch ends, also when a write throws.
    */
  def fanOutSink(agg: DataFrame, countersOut: String, archiveOut: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow()) = {
    useForkFreeCheckpoints(agg.sparkSession)
    agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, batchId: Long) => scope {
        val b = batch.truncated
        b.write.mode("append").parquet(countersOut)
        b.filter(col("n") > 1).write.mode("append").parquet(archiveOut)
      })
  }

  // ---- I12 + H6: the curation pipeline with its state in the state store ----

  /** Fail-fast guard for restarting a curation stream over an existing
    * output directory in the WRONG near-dup mode (the key state is
    * mode-specific: `prefix` keeps one entry per (lang, prefix_key),
    * `lsh` one first entrant per band bucket, in a different stateful
    * processor, so a checkpoint written in one mode cannot carry the
    * other's decisions). The mode is persisted in the output root on
    * first contact; a restart supplying a different mode fails when the
    * sink is built, before Spark reads the checkpoint, with a message
    * that names both modes.
    */
  private def requireNearDupMode(spark: SparkSession, outDir: String,
      nearDup: String): Unit = {
    val fs = fsFor(spark, outDir)
    val marker = new org.apache.hadoop.fs.Path(s"$outDir/_near_dup_mode")
    val existing =
      if (!fs.exists(marker)) ""
      else {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
    if (existing.nonEmpty)
      require(existing == nearDup,
        s"output dir $outDir was started with nearDup=$existing; its " +
          s"checkpoint's key state belongs to the nearDup=$existing stateful " +
          s"processor and cannot carry nearDup=$nearDup decisions — resume " +
          s"with nearDup=$existing or use a fresh outDir and checkpoint")
    else {
      // write-then-rename so a crash mid-write cannot leave an empty
      // marker that blocks every later restart; an empty marker (from a
      // pre-rename crash window of an older build) is treated as absent
      // and re-stamped rather than failing the stream forever
      val tmp = new org.apache.hadoop.fs.Path(s"$outDir/._near_dup_mode.tmp")
      val out = fs.create(tmp, true)
      try out.write(nearDup.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fs.delete(marker, false)
      fs.rename(tmp, marker)
    }
  }

  /** Stages 4–5 of the curation chain (hash split → shard packing) plus
    * the per-batch bookkeeping (keep-list write, pack offsets, metrics)
    * of [[curationPipelineSink]]; `s3` carries the near-dup survivors.
    * Both keep-first histories live in the state store, so the only
    * cross-batch file state here is the (split × source) offsets table.
    * The packed frame is truncated into the caller's scope.
    */
  private def curationStage45(outDir: String, batchId: Long, s3: DataFrame,
      nearDup: String): Unit = {
    val spark = s3.sparkSession
    import org.apache.spark.sql.expressions.Window
    val fs = fsFor(spark, outDir)
    // stage 4 (split) is a pure hash of doc_id — no state; stage 5
    // (packing) resumes each (split, source) group's cumulative token
    // count from the previous batch's snapshot
    val prevOff = {
      val p = new org.apache.hadoop.fs.Path(s"$outDir/offsets/gen-${batchId - 1}")
      if (batchId > 0 && fs.exists(p)) spark.read.parquet(p.toString)
      else spark.range(0).select(lit("").as("split"), lit("").as("source"),
        lit(0L).as("off"))
    }
    val packW = Window.partitionBy("split", "source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keepCols = Seq("doc_id", "lang", "source", "tok", "text_hash") ++
      (if (nearDup == "prefix") Seq("prefix_key") else Nil) ++
      Seq("split", "shard")
    val packed = s3
      .withColumn("bucket",
        expr(graft.operators.SamplingQueries.bucketExpr("doc_id")))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .join(broadcast(prevOff), Seq("split", "source"), "left")
      .na.fill(0L, Seq("off"))
      .withColumn("cum_before",
        sum(col("tok")).over(packW) - col("tok") + col("off"))
      .withColumn("shard", expr("cum_before div 2048"))
      .truncated
    packed
      .select(keepCols.head, keepCols.tail: _*)
      .write.mode("overwrite").parquet(s"$outDir/keep/batch=$batchId")
    // offsets snapshot for the NEXT batch (written after the keep-list:
    // a crash mid-batch replays from the checkpoint and overwrites)
    val add = packed.groupBy("split", "source").agg(sum("tok").as("add"))
    prevOff.join(add, Seq("split", "source"), "full_outer")
      .select(col("split"), col("source"),
        (coalesce(col("off"), lit(0L)) + coalesce(col("add"), lit(0L))).as("off"))
      .write.mode("overwrite").parquet(s"$outDir/offsets/gen-$batchId")
    if (batchId >= 2)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$outDir/offsets/gen-${batchId - 2}"), true)
    spark.range(1).select(lit(batchId).as("batch_id"), lit(nearDup).as("near_dup_mode"))
      .write.mode("overwrite").parquet(s"$outDir/metrics/batch=$batchId")
  }

  case class CurDoc(doc_id: Long, lang: String, source: String, text: String,
      tok: Int, text_hash: String, prefix_key: String)

  /** Stage 1 (gate) + decision keys + the state-store exact-dedup stage
    * of [[curationPipelineSink]]: the gated stream keyed by text_hash
    * through [[HashDedupProcessor]] — its output is exactly the stage-2
    * survivors. The gate expressions are the batch chain's.
    */
  private def gatedHashDeduped(docs: DataFrame): org.apache.spark.sql.Dataset[CurDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("tok", size(split(col("text"), " ")))
      .filter(col("tok") >= 20)
      .withColumn("text_hash", sha2(col("text").cast("binary"), 256))
      .withColumn("prefix_key",
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("tok"), col("text_hash"), col("prefix_key"))
      .as[CurDoc]
      .groupByKey(_.text_hash)
      .transformWithState(new HashDedupProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** Keep-first as a transformWithState processor: per key, state is the
    * kept doc_id — the first batch that sees a key emits its min-doc_id
    * row and pins the state; every later arrival of the same key emits
    * nothing. Under doc_id-ordered replay "first arrival, min within
    * batch" IS the global keep-first-by-doc_id. The key set lives in
    * RocksDB behind the state-store checkpoint, so the LSM pays the
    * compaction cost incrementally and no batch rewrites the history.
    * [[curationPipelineSink]] runs it twice: keyed by text_hash (exact
    * dedup) and, in `prefix` mode, by (lang, prefix_key).
    */
  class HashDedupProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, CurDoc, CurDoc] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var kept: ValueState[Long] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      kept = getHandle.getValueState[Long]("kept",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[CurDoc],
        timers: TimerValues): Iterator[CurDoc] =
      if (kept.exists()) Iterator.empty
      else {
        val first = rows.minBy(_.doc_id)
        kept.update(first.doc_id)
        Iterator.single(first)
      }
  }

  /** One (band bucket → document) row of the streaming LSH near-dup
    * stage: `bkey` = "band:band_key" from
    * [[graft.operators.DedupQueries.bandKeysLocal]].
    */
  case class BandDoc(bkey: String, doc: CurDoc)

  /** [[BucketDedupProcessor]]'s verdict for one (bucket, doc) row — the
    * doc survives stage 3 iff ALL FOUR of its bucket verdicts carry
    * `ok = true` (ANDed batch-locally in the sink: a doc's four rows
    * always share a micro-batch because they explode from one input row).
    */
  case class BandVerdict(ok: Boolean, doc: CurDoc)

  /** First-entrant-wins per LSH band bucket in the state store: state is
    * the bucket's first entrant doc_id. The first batch that touches a
    * bucket passes its min-doc_id row and fails the rest; every later
    * arrival fails. Under doc_id-ordered replay this is exactly the
    * batch chain's entrants-block rule ("a doc is dropped iff ANY of its
    * band buckets holds an earlier STAGE ENTRANT") — an entrant blocks
    * later look-alikes even when it was itself dropped by one of its
    * other buckets, because its arrival pinned the state in all four.
    */
  class BucketDedupProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, BandDoc, BandVerdict] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var first: ValueState[Long] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      first = getHandle.getValueState[Long]("first",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[BandDoc],
        timers: TimerValues): Iterator[BandVerdict] =
      if (first.exists()) rows.map(r => BandVerdict(ok = false, r.doc))
      else {
        val rs = rows.toSeq
        val minId = rs.iterator.map(_.doc.doc_id).min
        first.update(minId)
        rs.iterator.map(r => BandVerdict(r.doc.doc_id == minId, r.doc))
      }
  }

  /** I12 at PIPELINE granularity, streaming: the whole curation decision
    * chain — gate → exact dedup → near-dup removal → hash split → shard
    * packing — as ONE streaming job over the raw document stream,
    * replacing the reference's per-record Lambda chain and its DynamoDB
    * state. Stage definitions are SHARED with the batch pipeline
    * ([[graft.operators.PipelineQueries.curationKeepList]] /
    * [[graft.operators.PipelineQueries.curationKeepListLsh]]): the
    * stream's keep-list provably equals the batch one row-for-row under
    * doc_id-ordered replay (ScaleSmokeSpec), because each global
    * keep-first-by-doc_id window decomposes exactly into a first-entrant
    * rule over every earlier batch's STAGE ENTRANTS, and the running pack
    * offsets carry per (split, source) across batches.
    *
    * Both keep-first histories live in transformWithState/RocksDB behind
    * the checkpoint: the exact-dedup hash set ([[HashDedupProcessor]]
    * keyed by text_hash) and the stage-3 near-dup keys. `nearDup` selects
    * stage 3: `"prefix"` re-keys the hash survivors by (lang, first-3
    * tokens) through the SAME [[HashDedupProcessor]] rule; `"lsh"`
    * explodes each survivor into its 4 band-bucket rows
    * ([[graft.operators.DedupQueries.bandKeysLocal]], the row-local twin
    * of the served 4 bands × 3 rows MinHash banding) and ANDs the
    * per-bucket [[BucketDedupProcessor]] verdicts batch-locally. Both
    * histories hold the stage's ENTRANTS (stage-2 survivors): an entrant
    * blocks later look-alikes even if it was itself dropped, by
    * construction of the batch window rule — that is what makes the
    * decomposition exact.
    *
    * The output directory holds no history: `keep/batch=<id>` (the
    * keep-list), `offsets/gen-<id>` ((split × source) rows, two
    * generations retained: a replay of batch B reads B−1's snapshot),
    * `metrics/batch=<id>` (batch id and mode) and the `_near_dup_mode`
    * marker. All per-batch outputs are idempotent whole-dir overwrites —
    * the scrubRoute/upsertSink replay contract.
    */
  def curationPipelineSink(docs: DataFrame, outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      nearDup: String = "prefix") = {
    require(nearDup == "prefix" || nearDup == "lsh", s"unknown nearDup mode: $nearDup")
    val spark = docs.sparkSession
    import spark.implicits._
    requireRocksDb(spark)
    val s2 = gatedHashDeduped(docs)
    val s3 = nearDup match {
      case "prefix" =>
        // the same first-entrant-wins rule, re-keyed by the stage-3 key:
        // keep-first per (lang, prefix_key) over the stage-2 survivors
        s2.groupByKey(d => d.lang + "\u0000" + d.prefix_key)
          .transformWithState(new HashDedupProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF()
      case "lsh" =>
        s2.flatMap(d => graft.operators.DedupQueries.bandKeysLocal(d.text)
            .map { case (b, k) => BandDoc(s"$b:$k", d) })
          .groupByKey(_.bkey)
          .transformWithState(new BucketDedupProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF()
    }
    useForkFreeCheckpoints(spark)
    requireNearDupMode(spark, outDir, nearDup)
    s3.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, batchId: Long) => scope {
        val b = batch.truncated
        val kept = nearDup match {
          case "prefix" => b
          case "lsh" =>
            // AND the four bucket verdicts: a doc survives iff none of
            // its buckets failed it (all rows of a doc share this batch)
            val bad = b.filter(!col("ok"))
              .select(col("doc.doc_id").as("doc_id")).distinct()
            b.select(col("doc.*")).distinct()
              .join(bad, Seq("doc_id"), "left_anti")
        }
        curationStage45(outDir, batchId, kept, nearDup)
      })
  }

  /** A8/I8/H8: the streaming quality-gate scrub — "scrub before anything
    * else sees the text", as a routing map over the raw document stream.
    * Each micro-batch goes through the SAME gate expressions as the
    * batch queries ([[graft.operators.CurationQueries]].gopherSignals /
    * piiScrub are shared definitions, so the stream's keep/reject
    * verdicts cannot drift from the batch report): accepted docs are
    * archived with PII already redacted; rejects route to the
    * dead-letter path carrying every failed-rule flag plus a compact
    * reason list for triage. Both destinations are written inside ONE
    * foreachBatch from one truncated scan of the batch (the fan-out
    * shape), and each batch lands in its own `batch=<id>` directory with
    * overwrite semantics — a micro-batch replayed after a crash between
    * write and checkpoint commit overwrites its own partial output
    * instead of duplicating it, the same idempotence contract as
    * [[upsertSink]] without the merge machinery. Stateless row-local
    * gates ⇒ no state store, no watermark; throughput scales with
    * partition count.
    */
  def scrubRoute(docs: DataFrame, acceptDir: String, dlqDir: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow()) = {
    useForkFreeCheckpoints(docs.sparkSession)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, batchId: Long) => scope {
        val scrubbed = graft.operators.CurationQueries
          .piiScrub(graft.operators.CurationQueries.gopherSignals(batch))
          .truncated
        scrubbed.filter(col("keep"))
          .select(col("doc_id"), col("source"), col("redacted").as("text"),
            col("n_email"), col("n_phone"))
          .write.mode("overwrite").parquet(s"$acceptDir/batch=$batchId")
        scrubbed.filter(!col("keep"))
          .select(col("doc_id"), col("source"),
            col("wc_ok"), col("ml_ok"), col("st_ok"), col("dg_ok"),
            concat_ws(",",
              when(!col("wc_ok"), lit("wordcount")),
              when(!col("ml_ok"), lit("meanlen")),
              when(!col("st_ok"), lit("stopwords")),
              when(!col("dg_ok"), lit("digits"))).as("reasons"))
          .write.mode("overwrite").parquet(s"$dlqDir/batch=$batchId")
      })
  }
}
