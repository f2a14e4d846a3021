package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.StreamingJobs

/** `stream_ingest`: an open loop. A generator thread lands pre-generated
  * parquet event files in a landing directory on a fixed schedule, below
  * capacity; `StreamingJobs.fileSource` feeds `StreamingJobs.tumblingCounts`,
  * whose updated windows a `foreachBatch` sink keeps. After the scheduled
  * phase, backlogs of larger files are landed at once and drained.
  *
  * Events come from the seed: skewed `user_id`s, the five event types of the
  * repository's events test table, and `ts` that advances one minute of event
  * time per file with jitter of at most 4 minutes, so no event is ever
  * behind the 10-minute watermark.
  */
object StreamWorkload {
  val RowsPerFile = 1000
  val IntervalMs = 200L
  /** Warm-up, part one: a backlog of this many files of
    * [[DrainRowsPerFile]] rows, landed at once when the query starts and
    * drained before the schedule begins (about 4 s). With scheduled 3-file
    * triggers alone, trigger time fell from about 650 to 450 ms over a
    * minute; after the backlog's 100,000-row trigger it starts the window
    * near 450-550 ms and falls by about a tenth across it. */
  val WarmBacklogFiles = 20
  /** Warm-up, part two: untimed scheduled landing before the window. */
  val WarmS = 5.0
  /** Files a trigger takes at most: the open loop stays below it, a drain
    * runs as back-to-back triggers of this many files. */
  val MaxFilesPerTrigger = 20
  /** Backlogs a traced run lands at once after the window, one after
    * another, in files, to measure capacity: the first and third are
    * untraced, the second traced, and the tracing overhead is its time over
    * the mean of the two around it. Capacity is too sensitive to other load
    * on the machine to be a bounded end-to-end metric, so untraced runs
    * skip the drains. */
  def drainSizes(trace: Boolean): Seq[Int] = if (trace) Seq(100, 100, 100) else Nil
  val DrainRowsPerFile = 5000
  val EventTypes = Seq("click", "signup", "error", "view", "purchase")
  private val MinuteUs = 60000000L
  private val JitterUs = 4 * MinuteUs
  private val BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z

  private val Schema = MessageTypeParser.parseMessageType(
    """message event {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,false));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |}""".stripMargin)

  /** Writes file `k` of the stream, `rows` events whose ids start at
    * `firstId`, with parquet's own writer: the generator does not use the
    * engine it feeds. `ts` is TIMESTAMP(MICROS) without time zone, the
    * encoding of the repository's events test table. */
  private def writeFile(f: File, seed: Long, k: Int, rows: Int, firstId: Long): Unit = {
    val rnd = new scala.util.Random(seed * 1000003L + k)
    val groups = new SimpleGroupFactory(Schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(f.toPath)).withType(Schema).build()
    try (0 until rows).foreach { i =>
      val ts = BaseUs + k * MinuteUs + i * (MinuteUs / rows) + (rnd.nextLong(2 * JitterUs + 1) - JitterUs)
      w.write(groups.newGroup()
        .append("event_id", firstId + i)
        .append("ts", ts)
        .append("user_id", (math.pow(rnd.nextDouble(), 3) * 2000).toLong)
        .append("event_type", EventTypes(rnd.nextInt(EventTypes.size)))
        .append("value", rnd.nextInt(100000) / 100.0)
        .append("props", s"""{"k": ${rnd.nextInt(100)}}"""))
    } finally w.close()
  }

  def run(spark: SparkSession, c: Main.Conf): Map[String, Any] = {
    val work = new File(c.work)
    val landing = new File(work, "landing")
    val ckpt = new File(work, "checkpoint")
    landing.mkdirs()
    val jvm = new JvmProbe
    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach(true))
    val rootSpan = tracer.map(_.open(0, "run", c.workload, "run")).getOrElse(0)

    val nBacklog = WarmBacklogFiles
    val nWarm = nBacklog + (WarmS * 1000 / IntervalMs).toInt
    val nSteady = nWarm + math.max(1, (c.seconds * 1000 / IntervalMs).toInt)
    val sizes = drainSizes(c.trace)
    val rowsOf = Seq.fill(nBacklog)(DrainRowsPerFile) ++ Seq.fill(nSteady - nBacklog)(RowsPerFile) ++
      Seq.fill(sizes.sum)(DrainRowsPerFile)
    val cumRows = rowsOf.map(_.toLong).scanLeft(0L)(_ + _).tail
    val staging = new File(work, "staging")
    staging.mkdirs()
    val files = rowsOf.indices.map(k => new File(staging, f"f$k%05d.parquet"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cores)
    try files.indices.map(k => pool.submit(new Runnable {
      def run(): Unit = writeFile(files(k), c.seed, k, rowsOf(k), if (k == 0) 0L else cumRows(k - 1))
    })).foreach(_.get())
    finally pool.shutdown()
    // the source takes the oldest files first: modification times follow
    // the landing order
    val mtime0 = System.currentTimeMillis() - files.size
    files.zipWithIndex.foreach { case (f, k) => f.setLastModified(mtime0 + k) }
    val due = new Array[Long](files.size)
    val landed = new Array[Long](files.size)
    def land(k: Int): Unit = {
      Files.move(files(k).toPath, new File(landing, files(k).getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      landed(k) = System.currentTimeMillis()
    }

    // the first file lands before the query starts, so the source's schema
    // probe sees the generated encoding
    due(0) = System.currentTimeMillis()
    land(0)
    Main.log(s"generated ${files.size} files")
    val sink = new ConcurrentHashMap[(String, String), (Long, Double)]()
    val keep: (DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach(r => sink.put((r.get(0).toString, r.getString(1)), (r.getLong(2), r.getDouble(3))))
    val setupParent = tracer.map(_.open(rootSpan, "setup", "query start", "setup")).getOrElse(0)
    def call[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(setupParent, "build", name, "setup")(_ => body))
    val source = call("fileSource")(StreamingJobs.fileSource(spark, landing.getPath, MaxFilesPerTrigger))
    val counts = call("tumblingCounts")(StreamingJobs.tumblingCounts(source))
    val q = call("start")(counts.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch(keep)
      .start())
    tracer.foreach(_.close(setupParent))
    Main.log("stream started")

    // warm-up: the backlog's large triggers run the per-row paths hot
    // before the schedule starts
    val b0 = System.currentTimeMillis()
    (1 until nBacklog).foreach { k => due(k) = b0; land(k) }
    awaitQuiet(q, cumRows(nBacklog - 1))
    Main.log("warm-up backlog drained")

    // open loop: file k is due at t0 + (k - nBacklog) * interval whatever
    // the stream is doing; its latency runs from that due time
    val t0 = System.currentTimeMillis() + 200
    (nBacklog until nSteady).foreach(k => due(k) = t0 + (k - nBacklog) * IntervalMs)
    val generator = new Thread(() => (nBacklog until nSteady).foreach { k =>
      val wait = due(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      land(k)
    }, "perfbench-generator")
    generator.start()
    val windowStartMs = due(nWarm)
    val setupS = (windowStartMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Thread.sleep(math.max(0L, windowStartMs - System.currentTimeMillis()))
    val gc0 = jvm.gcSeconds
    val jit0 = jvm.jitSeconds
    jvm.resetPeak()
    generator.join()
    Main.log("scheduled files landed")
    awaitQuiet(q, cumRows(nSteady - 1))
    val windowJitS = jvm.jitSeconds - jit0
    val windowEndMs = System.currentTimeMillis()
    val windowGcS = jvm.gcSeconds - gc0
    val windowHeapPeak = jvm.peakMb
    val retained = mutable.ArrayBuffer(jvm.retainedMb)

    // drains: land a backlog at once and time it until the trigger that
    // commits its last file ends
    val drains = sizes.indices.map { d =>
      val traced = c.trace && d == 1
      tracer.foreach(_.attach(traced))
      val ks = nSteady + sizes.take(d).sum until nSteady + sizes.take(d + 1).sum
      val start = System.currentTimeMillis()
      ks.foreach { k => due(k) = start; land(k) }
      awaitQuiet(q, cumRows(ks.last))
      (start, ks, traced)
    }
    if (drains.nonEmpty) retained += jvm.retainedMb
    Main.log("drains done")
    tracer.foreach(_.attach(true))
    q.stop()
    tracer.foreach(_.attach(false))
    jvm.stop()

    // which trigger committed which file: a trigger takes the oldest
    // landed files and files land in modification-time order, so each
    // trigger commits a prefix of the landing order, found from its
    // cumulative input rows
    val progress = q.recentProgress.toSeq.sortBy(_.batchId)
    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    def dur(p: StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    def endMs(p: StreamingQueryProgress) = startMs(p) + dur(p, "triggerExecution")
    val committedAfter = progress.scanLeft(0L)(_ + _.numInputRows).tail
      .map(r => cumRows.indexWhere(_ > r) match { case -1 => files.size; case i => i })
    val commitEnd = new Array[Long](files.size)
    var done = 0
    progress.zip(committedAfter).foreach { case (p, n) =>
      while (done < n) { commitEnd(done) = endMs(p); done += 1 }
    }
    require(done == files.size, s"only $done of ${files.size} landed files were committed")

    val timedFiles = nWarm until nSteady
    val latencyS = timedFiles.map(k => (commitEnd(k) - due(k)) / 1e3)
    val drainRate = drains.map { case (start, ks, traced) =>
      (ks.size.toLong * DrainRowsPerFile / ((commitEnd(ks.last) - start) / 1e3), traced) }
    val untracedRates = drainRate.filterNot(_._2).map(_._1)
    val inWindow = progress.filter(p => startMs(p) >= windowStartMs && endMs(p) <= windowEndMs)
    val data = inWindow.filter(_.numInputRows > 0)
    val empty = inWindow.filter(_.numInputRows == 0)

    // outputs: the final count of every window against the batch twin
    // (the same function over the same landed files)
    val twin = StreamingJobs.tumblingCounts(graft.Tables.normalizeEventTs(spark.read.parquet(landing.getPath)))
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val got = sink.asScala.toMap
    val wrong = (twin.keySet ++ got.keySet).toSeq.filterNot { k =>
      (twin.get(k), got.get(k)) match {
        case (Some((n1, s1)), Some((n2, s2))) => n1 == n2 && math.abs(s1 - s2) <= 1e-9 * math.max(1.0, math.abs(s1))
        case _ => false
      }
    }
    wrong.foreach(k => System.err.println(s"[perfbench] WRONG WINDOW $k: stream=${got.get(k)} batch=${twin.get(k)}"))
    val stateOps = progress.flatMap(_.stateOperators.headOption)
    val dropped = stateOps.map(_.numRowsDroppedByWatermark).sum
    if (dropped > 0) System.err.println(s"[perfbench] WRONG: $dropped rows dropped behind the watermark")
    val failures = wrong.map(k => s"window $k") ++ (if (dropped > 0) Seq("rows dropped late") else Nil)

    val e2e = Map(
      "setup_s" -> Main.metric(setupS, 1),
      "latency_p50_s" -> Main.metric(Stats.median(latencyS), latencyS.size),
      "heap_peak_mb" -> Main.metric(retained.max, retained.size))

    val layers = tracer.map { t =>
      t.drain()
      t.close(rootSpan)
      val setupSpan = t.add(rootSpan, "setup", "warm-up", "setup", t.snapshot.find(_.id == setupParent).get.end,
        windowStartMs * 1000)
      val windowSpan = t.add(rootSpan, "window", "open loop", "window", windowStartMs * 1000, windowEndMs * 1000)
      val drainSpans = drains.filter(_._3).map { case (start, ks, _) =>
        t.add(rootSpan, "drain", s"drain to file ${ks.last}", s"drain ${ks.last}", start * 1000,
          commitEnd(ks.last) * 1000)
      }
      val parents = (setupSpan +: windowSpan +: drainSpans).map(id => t.snapshot.find(_.id == id).get)
      t.attributeTriggers(us => parents.find(s => s.start <= us && us < s.end).map(_.id).getOrElse(rootSpan))
      val jobs = t.attributeJobs().filter { case (j, _) => j.start >= windowStartMs * 1000 && j.end <= windowEndMs * 1000 }
      val stageIds = jobs.flatMap(_._1.stages).filter(t.stages.contains).distinct
      val aggs = stageIds.flatMap(t.stageAgg.get)
      def sumA(f: StageAgg => Long) = aggs.map(f).sum
      val nT = math.max(1, data.size).toDouble
      val wallS = (windowEndMs - windowStartMs) / 1e3
      def inW(us: Long) = us >= windowStartMs * 1000 && us < windowEndMs * 1000
      val cg = t.codegen.filter { case (s, _) => inW(s) }
      val cat = (n: String) => t.catalyst.filter { case (k, s, _) => k == n && inW(s) }.map(_._3).sum / nT
      def p50(ps: Seq[StreamingQueryProgress], k: String) = Stats.median(ps.map(dur(_, k).toDouble))
      val backlog = inWindow.map { p =>
        val s = startMs(p)
        landed.count(l => l > 0 && l <= s) - commitEnd.count(e => e > 0 && e <= s)
      }
      val m = Map(
        "materialize.rdds" -> stageIds.flatMap(t.stages(_).cachedRdds).distinct.size / nT,
        "catalyst.analysis_ms" -> cat("analysis"),
        "catalyst.optimizer_ms" -> cat("optimization"),
        "catalyst.planning_ms" -> cat("planning"),
        "codegen.compile_ms" -> cg.map(_._2).sum / nT,
        "codegen.classes" -> cg.size / nT,
        "scheduler.jobs" -> jobs.size / nT,
        "scheduler.stages" -> stageIds.size / nT,
        "scheduler.tasks" -> sumA(_.tasks) / nT,
        "scheduler.tasks_per_stage" -> (if (stageIds.isEmpty) 0.0 else sumA(_.tasks).toDouble / stageIds.size),
        "scheduler.core_busy" -> sumA(_.runMs) / (c.cores * wallS * 1e3),
        "scheduler.driver_gap_ms" -> 0.0,
        "executor.run_s" -> sumA(_.runMs) / 1e3 / nT,
        "executor.cpu_s" -> sumA(_.cpuNs) / 1e9 / nT,
        "executor.gc_s" -> sumA(_.gcMs) / 1e3 / nT,
        "shuffle.write_mb" -> sumA(_.shufWrite) / Main.Mb / nT,
        "shuffle.read_mb" -> sumA(_.shufRead) / Main.Mb / nT,
        "shuffle.spill_mb" -> sumA(_.spill) / Main.Mb / nT,
        "scan.input_mb" -> sumA(_.inBytes) / Main.Mb / nT,
        "scan.records" -> sumA(_.inRecords) / nT,
        "stream.trigger_ms" -> p50(data, "triggerExecution"),
        "stream.latestOffset_ms" -> p50(data, "latestOffset"),
        "stream.getBatch_ms" -> p50(data, "getBatch"),
        "stream.queryPlanning_ms" -> p50(data, "queryPlanning"),
        "stream.addBatch_ms" -> p50(data, "addBatch"),
        "stream.walCommit_ms" -> p50(data, "walCommit"),
        "stream.commitOffsets_ms" -> p50(data, "commitOffsets"),
        "stream.empty_batches" -> empty.size.toDouble,
        "stream.empty_batch_ms" -> p50(empty, "triggerExecution"),
        "stream.files_per_trigger" -> Stats.median(data.map(_.numInputRows.toDouble / RowsPerFile)),
        "stream.latency_p95_s" -> Stats.quantile(latencyS, 0.95),
        "stream.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
        "state.commit_ms" -> Stats.median(data.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)),
        "state.rows_total" -> stateOps.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
        "state.memory_mb" -> stateOps.map(_.memoryUsedBytes / Main.Mb).maxOption.getOrElse(0.0),
        "state.rows_dropped_late" -> dropped.toDouble,
        "gen.late_ms_p99" -> Stats.quantile(timedFiles.map(k => (landed(k) - due(k)).toDouble), 0.99),
        "jvm.gc_s" -> windowGcS,
        "jvm.heap_peak_mb" -> windowHeapPeak,
        "throughput.drain_rows_per_s" -> Stats.median(untracedRates),
        "trace.overhead_ratio" -> Stats.median(drainRate.filter(_._2).map(1 / _._1)) /
          Stats.mean(drainRate.filterNot(_._2).map(1 / _._1)))
      val file = TraceFile.write(c, t.snapshot, rootSpan)
      Map("metrics" -> m.map { case (n, v) => n -> Main.metric(v, data.size) },
        "trace_file" -> file)
    }.getOrElse(Map.empty)

    Map(
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
      "correct" -> failures.isEmpty,
      "attempted" -> (files.size + twin.size),
      "failed" -> failures.size,
      "failures" -> failures,
      "metrics" -> (if (c.trace) layers.getOrElse("metrics", Map.empty) else e2e),
      "window_s" -> (windowEndMs - windowStartMs) / 1e3,
      "series" -> Map(
        "trigger_ms" -> inWindow.map(p => Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "ms" -> dur(p, "triggerExecution"), "start" -> startMs(p),
          "phases" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)),
        "latency_s" -> latencyS,
        "drain_rows_per_s" -> drainRate.map(_._1),
        "window_jit_s" -> windowJitS,
        "trend" -> Stats.trend(data.map(dur(_, "triggerExecution").toDouble))),
      "trace_file" -> layers.getOrElse("trace_file", ""))
  }

  /** Waits until every landed row up to `rows` is committed, no trigger
    * has ended for 200 ms and none is running, so that any no-data batch
    * after the last data batch has ended too. */
  private def awaitQuiet(q: StreamingQuery, rows: Long): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    var since = System.currentTimeMillis()
    var seen = -1
    while (System.currentTimeMillis() < deadline) {
      q.exception.foreach(e => throw e)
      val ps = q.recentProgress
      if (ps.length != seen) { seen = ps.length; since = System.currentTimeMillis() }
      else if (ps.map(_.numInputRows).sum >= rows && System.currentTimeMillis() - since >= 200 &&
        !q.status.isTriggerActive) return
      Thread.sleep(20)
    }
    throw new IllegalStateException(s"stream did not commit $rows rows within 60 s; committed " +
      s"${q.recentProgress.map(_.numInputRows).sum} in ${q.recentProgress.length} triggers, status ${q.status}")
  }
}
