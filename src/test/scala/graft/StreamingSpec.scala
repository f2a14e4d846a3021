package graft

import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.{SessionInput, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** Static row collector for the ForeachWriter test — executors share the
  * JVM in local mode, so a static concurrent queue observes the sink.
  */
object RowCollector {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class StreamingSpec extends AnyFunSuite with SparkFixture {

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def at(min: Long) = new Timestamp(base + min * 60000)

  test("H1: streaming tumbling counts equal the batch computation") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      Ev(1, at(5), 1, "click", 1.0, "{}"),
      Ev(2, at(10), 1, "click", 2.0, "{}"),
      Ev(3, at(65), 2, "view", 3.0, "{}"),
      Ev(4, at(70), 1, "click", 4.0, "{}"),
      Ev(5, at(130), 2, "view", 5.0, "{}"))
    val ms = MemoryStream[Ev]
    ms.addData(rows: _*)
    val q = StreamingJobs.tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName("tumb").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumb")
      .select("w_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = StreamingJobs.tumblingCounts(rows.toDF())
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.size == 4) // (h0 click), (h1 view), (h1 click), (h2 view)
  }

  test("H2: streaming sliding-window counts equal the batch computation") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      Ev(1, at(5), 1, "click", 1.0, "{}"),
      Ev(2, at(10), 1, "click", 2.0, "{}"),
      Ev(3, at(65), 2, "view", 3.0, "{}"),
      Ev(4, at(70), 1, "click", 4.0, "{}"),
      Ev(5, at(130), 2, "view", 5.0, "{}"))
    val ms = MemoryStream[Ev]
    ms.addData(rows: _*)
    val q = StreamingJobs.slidingCounts(ms.toDF())
      .writeStream.format("memory").queryName("slide").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("slide")
      .select("w_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = StreamingJobs.slidingCounts(rows.toDF())
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // every event lands in exactly 4 overlapping (window, type) slots;
    // events 1+2 share all 4 of theirs, events 4's and 3's overlap differs
    // by type — count distinct slots instead of deriving by hand
    assert(streamed.map(r => (r(0), r(1))).size == streamed.size)
    assert(streamed.toSeq.map(_(2).asInstanceOf[Long]).sum == 5 * 4)
  }

  test("H5: streaming dedup drops redelivered event ids") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingJobs.dedupByEventId(ms.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    // redelivery of id=1 within the same and a later batch (at-least-once)
    ms.addData(Ev(1, at(1), 1, "click", 1.0, "{}"), Ev(1, at(1), 1, "click", 1.0, "{}"))
    q.processAllAvailable()
    ms.addData(Ev(1, at(1), 1, "click", 1.0, "{}"), Ev(2, at(2), 1, "view", 2.0, "{}"))
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("H6: event-time sessionizer closes sessions on gap and on timeout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[SessionInput]
    val sessions = StreamingJobs.sessionize(
      ms.toDS().withWatermark("ts", "0 seconds"), gapMinutes = 30)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    // user 1: two sessions split by a 40-min gap; user 2: one session
    ms.addData(
      SessionInput(1, at(0), 1.0), SessionInput(1, at(10), 2.0),
      SessionInput(1, at(50), 3.0), SessionInput(2, at(0), 5.0))
    q.processAllAvailable()
    // advance event time far enough that the watermark passes every
    // open session's (last + gap) timeout
    ms.addData(SessionInput(99, at(600), 0.0))
    q.processAllAvailable()
    ms.addData(SessionInput(99, at(1200), 0.0))
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("sess").as[SessionOut].collect()
      .filter(_.user_id != 99).sortBy(s => (s.user_id, s.n_events))
    assert(out.exists(s => s.user_id == 1 && s.n_events == 2 && s.sum_value == 3.0
      && s.duration_sec == 600))
    assert(out.exists(s => s.user_id == 1 && s.n_events == 1 && s.sum_value == 3.0))
    assert(out.exists(s => s.user_id == 2 && s.n_events == 1 && s.sum_value == 5.0))
  }

  test("H6: timer-based transformWithState sessionizer equals the legacy sessionizer") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // same batched replay through both implementations: gap-close inside a
    // batch (user 1), cross-batch session extension (user 2), singleton
    // (user 3), then two flusher batches so every event-time timeout /
    // timer has fired before comparing
    val batches = Seq(
      Seq(SessionInput(1, at(0), 1.0), SessionInput(1, at(10), 2.0),
        SessionInput(2, at(5), 5.0)),
      Seq(SessionInput(1, at(50), 3.0), SessionInput(2, at(20), 1.5)),
      Seq(SessionInput(3, at(100), 7.0)),
      Seq(SessionInput(99, at(600), 0.0)),
      Seq(SessionInput(99, at(1200), 0.0)))
    def run(name: String,
        f: org.apache.spark.sql.Dataset[SessionInput] => org.apache.spark.sql.Dataset[SessionOut]): Set[SessionOut] = {
      val ms = MemoryStream[SessionInput]
      val q = f(ms.toDS()).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[SessionOut].collect().filter(_.user_id != 99).toSet
    }
    val legacy = run("sess_legacy",
      ds => StreamingJobs.sessionize(ds.withWatermark("ts", "10 minutes"), 30))
    val timers = run("sess_timers",
      ds => StreamingJobs.sessionizeTimers(ds, 30))
    assert(legacy.nonEmpty, "flushers must have closed some sessions")
    assert(legacy == timers, s"legacy=$legacy timers=$timers")
    // the split sessions for user 1 and the merged one for user 2 exist
    assert(timers.count(_.user_id == 1) == 2)
    assert(timers.exists(s => s.user_id == 2 && s.n_events == 2 && s.sum_value == 6.5))
  }

  test("H4/H6: sessionizer drops fully-late events and the query survives") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[SessionInput]
    val q = StreamingJobs.sessionize(
        ms.toDS().withWatermark("ts", "0 seconds"), gapMinutes = 30)
      .writeStream.format("memory").queryName("latesess").outputMode("append").start()
    ms.addData(SessionInput(7, at(1000), 1.0)) // advances watermark far ahead
    q.processAllAvailable()
    // event far behind the watermark: the pre-stateful watermark filter
    // drops it (the reference, by contrast, silently mis-bucketed late
    // data); the query must keep running either way — the inline-close
    // guard in sessionize covers the boundary case the filter lets through
    ms.addData(SessionInput(8, at(1), 2.0))
    q.processAllAvailable()
    ms.addData(SessionInput(7, at(2000), 3.0))
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("latesess").as[SessionOut].collect()
    assert(q.exception.isEmpty)
    assert(!out.exists(_.user_id == 8), "fully-late event must be dropped")
    assert(out.exists(s => s.user_id == 7 && s.n_events == 1))
  }

  test("H6 (Spark 4 API): transformWithState running counters accumulate across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[SessionInput]
    val q = StreamingJobs.runningCounters(ms.toDS())
      .writeStream.format("memory").queryName("counters").outputMode("update").start()
    ms.addData(SessionInput(1, at(0), 2.0), SessionInput(1, at(1), 3.0), SessionInput(2, at(0), 7.0))
    q.processAllAvailable()
    ms.addData(SessionInput(1, at(2), 5.0))
    try q.processAllAvailable() finally q.stop()
    val latest = spark.table("counters").as[StreamingJobs.UserTotal].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n) }
    assert(latest(1L).n == 3 && latest(1L).total == 10.0)
    assert(latest(2L).n == 1 && latest(2L).total == 7.0)
  }

  test("H6: streaming funnel stage machine equals the batch join cascade") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // real events at sf0.001, replayed in event-time order across 3 batches
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[StreamingJobs.FunnelInput].collect().sortBy(_.ts.getTime)
    val ms = MemoryStream[StreamingJobs.FunnelInput]
    val q = StreamingJobs.funnelStages(ms.toDS())
      .writeStream.format("memory").queryName("funnel_stages")
      .outputMode("append").start()
    try ev.grouped((ev.length + 2) / 3).foreach { chunk =>
      ms.addData(chunk.toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_stages").as[StreamingJobs.FunnelStage].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.map(_.stage).max }
    // batch expectation: the q_funnel join cascade's stage sets
    val e = Tables.events(spark, sf).select("user_id", "event_type", "ts")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t1")).groupBy("user_id").agg(min("ts").as("t2"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t2")).groupBy("user_id").agg(min("ts").as("t3"))
    val vs = v.select("user_id").as[Long].collect().toSet
    val cs = c.select("user_id").as[Long].collect().toSet
    val ps = p.select("user_id").as[Long].collect().toSet
    val expected = vs.map(u => u -> (if (ps(u)) 3 else if (cs(u)) 2 else 1)).toMap
    assert(got == expected)
    // every user advanced one stage at a time, no skips
    val perUser = spark.table("funnel_stages").as[StreamingJobs.FunnelStage]
      .collect().groupBy(_.user_id)
    perUser.values.foreach { st =>
      assert(st.map(_.stage).sorted.toSeq == (1 to st.length).toSeq)
    }
  }

  test("C10: stream-stream join correlates within the time bound only") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = StreamingJobs.correlate(
      clicks.toDF().select(col("event_id"), col("ts"), col("user_id")),
      purchases.toDF().select(col("event_id"), col("ts"), col("user_id")))
    val q = joined.writeStream.format("memory").queryName("corr")
      .outputMode("append").start()
    clicks.addData(Ev(1, at(0), 1, "click", 0, "{}"), Ev(2, at(0), 2, "click", 0, "{}"))
    purchases.addData(
      Ev(10, at(10), 1, "purchase", 0, "{}"),  // within 30 min -> match
      Ev(11, at(50), 2, "purchase", 0, "{}"),  // outside bound -> no match
      Ev(12, at(5), 3, "purchase", 0, "{}"))   // no click for user 3
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("corr").select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L)))
  }

  test("C10b: outer stream-stream join emits unmatched rows after watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = StreamingJobs.correlateOuter(
      clicks.toDF().select(col("event_id"), col("ts"), col("user_id")),
      purchases.toDF().select(col("event_id"), col("ts"), col("user_id")))
    val q = joined.writeStream.format("memory").queryName("corr_outer")
      .outputMode("append").start()
    clicks.addData(Ev(1, at(0), 1, "click", 0, "{}"), Ev(2, at(0), 2, "click", 0, "{}"))
    purchases.addData(Ev(10, at(10), 1, "purchase", 0, "{}"))
    q.processAllAvailable()
    // before any watermark movement the unmatched click must NOT be out
    // (a purchase could still arrive inside its 30 min window)
    val early = spark.table("corr_outer").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(!early.exists { case (c, p) => c == 2L && p.isEmpty })
    // push BOTH watermarks past 0:00 + 30 min bound + 10 min delay; the
    // null row is emitted by the batch that RUNS with the new watermark,
    // so tick twice
    clicks.addData(Ev(3, at(120), 9, "click", 0, "{}"))
    purchases.addData(Ev(13, at(125), 9, "purchase", 0, "{}"))
    q.processAllAvailable()
    clicks.addData(Ev(4, at(200), 8, "click", 0, "{}"))
    purchases.addData(Ev(14, at(205), 8, "purchase", 0, "{}"))
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("corr_outer").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet
    assert(got.contains((1L, Some(10L))), got)   // matched pair intact
    assert(got.contains((2L, None)), got)        // unmatched click surfaced with nulls
    assert(!got.contains((2L, Some(10L))), got)  // and never cross-user matched
  }

  test("C9: stream-static enrichment join") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "AUTOMOBILE"), (2L, "BUILDING"))
      .toDF("c_custkey", "c_mktsegment")
    val ms = MemoryStream[Ev]
    ms.addData(Ev(1, at(0), 1, "click", 1.0, "{}"), Ev(2, at(1), 7, "view", 2.0, "{}"))
    val q = StreamingJobs.enrich(ms.toDF(), dim)
      .select(col("event_id"), col("c_mktsegment"))
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enriched").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got == Set((1L, Some("AUTOMOBILE")), (2L, None)))
  }

  test("A6: keyed upsert sink keeps the latest row per key across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val tmp = tempDir("graft_upsert").toString
    val ms = MemoryStream[Ev]
    val q = StreamingJobs.upsertSink(
      ms.toDF().select(col("user_id"), col("value"), col("ts")),
      s"$tmp/table", s"$tmp/ckpt", "user_id", "ts").start()
    ms.addData(Ev(1, at(0), 1, "a", 10.0, "{}"), Ev(2, at(0), 2, "a", 20.0, "{}"))
    q.processAllAvailable()
    ms.addData(Ev(3, at(5), 1, "a", 99.0, "{}")) // newer version for user 1
    try q.processAllAvailable() finally q.stop()
    val state = StreamingJobs.readUpserted(spark, s"$tmp/table").get
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state == Map(1L -> 99.0, 2L -> 20.0))
    // crash-safety surface: generations are immutable dirs behind an
    // atomic pointer; at most two are retained
    val gens = new java.io.File(s"$tmp/table").listFiles()
      .map(_.getName).filter(_.startsWith("gen-"))
    assert(gens.length <= 2 && gens.nonEmpty)
  }

  test("A6: upsert table survives a lost pointer (falls back to newest generation)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val tmp = tempDir("graft_upsert2").toString
    val ms = MemoryStream[Ev]
    val q = StreamingJobs.upsertSink(
      ms.toDF().select(col("user_id"), col("value"), col("ts")),
      s"$tmp/table", s"$tmp/ckpt", "user_id", "ts").start()
    ms.addData(Ev(1, at(0), 1, "a", 10.0, "{}"))
    q.processAllAvailable()
    ms.addData(Ev(2, at(5), 1, "a", 42.0, "{}"))
    try q.processAllAvailable() finally q.stop()
    // simulate a crash in the delete→rename window of the pointer swap
    assert(new java.io.File(s"$tmp/table/_CURRENT").delete())
    val state = StreamingJobs.readUpserted(spark, s"$tmp/table").get
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state == Map(1L -> 42.0))
  }

  test("A6: replayed committed batch is a no-op, not a crash (exactly-once effect)") {
    import spark.implicits._
    val tmp = tempDir("graft_upsert3").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    def addFile(n: Int, value: Double): Unit =
      Seq((1L, value, at(n))).toDF("user_id", "value", "ts")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/f$n")
    addFile(0, 10.0)
    val schema = spark.read.parquet(s"$tmp/in/f0").schema
    def start(ckpt: String) = StreamingJobs.upsertSink(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/table", ckpt, "user_id", "ts").start()
    val q1 = start(s"$tmp/ckpt"); q1.processAllAvailable(); q1.stop()
    addFile(1, 42.0)
    val q2 = start(s"$tmp/ckpt"); q2.processAllAvailable(); q2.stop()
    def state() = StreamingJobs.readUpserted(spark, s"$tmp/table").get
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state() == Map(1L -> 42.0))
    // simulate crash-recovery state: the generation committed but the
    // streaming commit log never recorded the batch. A same-JVM restart
    // from the live checkpoint trips Spark's concurrent-use guard, so
    // clone the checkpoint (what a recovering driver would read) and
    // drop the newest commit record in the clone — the restarted query
    // then REPLAYS the already-applied batch against the same table.
    val src = java.nio.file.Paths.get(s"$tmp/ckpt")
    val dst = java.nio.file.Paths.get(s"$tmp/ckpt_recovered")
    java.nio.file.Files.walk(src).forEach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val newest = new java.io.File(s"$tmp/ckpt_recovered/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    assert(newest.delete())
    // also drop the Hadoop ChecksumFileSystem sidecar — a stale .crc makes
    // the rewrite's atomic rename fail, which Spark reports as a
    // concurrent-writer conflict
    new java.io.File(newest.getParentFile, s".${newest.getName}.crc").delete()
    val q3 = start(s"$tmp/ckpt_recovered")
    try q3.processAllAvailable() finally q3.stop() // throws if replay crashed
    assert(state() == Map(1L -> 42.0), "replay must not change the table")
  }

  test("A6: crash between generation write and pointer swap keeps the old generation live") {
    import spark.implicits._
    val tmp = tempDir("graft_upsert5").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    def addFile(n: Int, value: Double): Unit =
      Seq((1L, value, at(n))).toDF("user_id", "value", "ts")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/f$n")
    addFile(0, 10.0)
    val schema = spark.read.parquet(s"$tmp/in/f0").schema
    def start() = StreamingJobs.upsertSink(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/table", s"$tmp/ckpt", "user_id", "ts").start()
    def state() = StreamingJobs.readUpserted(spark, s"$tmp/table").get
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(state() == Map(1L -> 10.0))
    // simulate the batch-1 crash window: its generation dir finished
    // writing (data + _SUCCESS both on disk) but the process died BEFORE
    // the pointer swap — _CURRENT still names gen-0. The 999.0 junk value
    // makes any accidental read of the orphan visible.
    Seq((1L, 999.0, at(9))).toDF("user_id", "value", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/table/gen-1")
    assert(new java.io.File(s"$tmp/table/gen-1/_SUCCESS").exists(),
      "test setup: the orphan generation must look complete")
    // the crash-safety claim, asserted backward: reads keep serving the
    // OLD committed generation — the pointer outranks "newest complete
    // dir" whenever it exists
    assert(StreamingJobs.currentGeneration(spark, s"$tmp/table").contains("gen-0"))
    assert(state() == Map(1L -> 10.0),
      "an unswapped generation must never serve reads")
    // recovery: the restarted stream replays batch 1 (it never reached
    // the commit log), re-merges from the committed gen-0, overwrites the
    // orphan, and only then swaps the pointer
    addFile(1, 42.0)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(StreamingJobs.currentGeneration(spark, s"$tmp/table").contains("gen-1"))
    assert(state() == Map(1L -> 42.0),
      "recovery must merge from the committed generation, not trust the orphan")
  }

  test("A6: partial first generation (no _SUCCESS) is re-merged, not trusted") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val tmp = tempDir("graft_upsert4").toString
    // simulate a crash mid-write of the very first generation: a gen-0
    // dir with data but NO _SUCCESS marker and no pointer file. Recovery
    // must re-merge (overwriting the junk), never no-op on the partial.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/table/gen-0"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/table/gen-0/part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(StreamingJobs.currentGeneration(spark, s"$tmp/table").isEmpty,
      "a generation without _SUCCESS must not be considered committed")
    val ms = MemoryStream[Ev]
    val q = StreamingJobs.upsertSink(
      ms.toDF().select(col("user_id"), col("value"), col("ts")),
      s"$tmp/table", s"$tmp/ckpt", "user_id", "ts").start()
    ms.addData(Ev(1, at(0), 1, "a", 10.0, "{}"))
    try q.processAllAvailable() finally q.stop()
    val state = StreamingJobs.readUpserted(spark, s"$tmp/table").get
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state == Map(1L -> 10.0))
  }

  test("H6: initial-state bootstrap seeds counters before the first batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // snapshot: user 1 already has 5 events totalling 100.0 (the loaded
    // "DynamoDB table"); user 3 exists only in the snapshot
    val snapshot = Seq(
      StreamingJobs.UserTotal(1, 5, 100.0),
      StreamingJobs.UserTotal(3, 2, 7.0)).toDS()
    val ms = MemoryStream[SessionInput]
    val q = StreamingJobs.runningCountersWithInit(ms.toDS(), snapshot)
      .writeStream.format("memory").queryName("init_counters")
      .outputMode("update").start()
    ms.addData(SessionInput(1, at(0), 2.0), SessionInput(2, at(0), 9.0))
    try q.processAllAvailable() finally q.stop()
    val latest = spark.table("init_counters").as[StreamingJobs.UserTotal].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n) }
    assert(latest(1L).n == 6 && latest(1L).total == 102.0) // snapshot + stream
    assert(latest(2L).n == 1 && latest(2L).total == 9.0)   // stream only
  }

  test("H4: dropped late rows are counted in query progress, not silent") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val listener = new StreamingJobs.LateDropListener
    spark.streams.addListener(listener)
    val ms = MemoryStream[Ev]
    val q = StreamingJobs.tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName("latedrop")
      .outputMode("append").start()
    try {
      ms.addData(Ev(1, at(1000), 1, "click", 1.0, "{}")) // watermark far ahead
      q.processAllAvailable()
      ms.addData(Ev(2, at(1), 1, "click", 1.0, "{}"))    // hours late -> dropped
      q.processAllAvailable()
      assert(StreamingJobs.droppedLateRows(q) >= 1,
        "late row must be counted in numRowsDroppedByWatermark")
      // listener totals are pushed asynchronously on the listener bus
      val deadline = System.currentTimeMillis() + 30000
      while (listener.total(q.id) < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(listener.total(q.id) >= 1,
        "monotonic listener total must also count the dropped row")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("H3: native session_window aggregation under streaming") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = ms.toDF()
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
      .writeStream.format("memory").queryName("sessnative").outputMode("append").start()
    ms.addData(Ev(1, at(0), 1, "a", 0, "{}"), Ev(2, at(10), 1, "a", 0, "{}"),
      Ev(3, at(120), 1, "a", 0, "{}"))
    q.processAllAvailable()
    ms.addData(Ev(4, at(600), 9, "a", 0, "{}")) // advance watermark, close sessions
    try q.processAllAvailable() finally q.stop()
    val sessions = spark.table("sessnative").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sessions.contains((1L, 2L)) && sessions.contains((1L, 1L)))
  }

  test("H8: row-level foreach sink (the per-record handler shape)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    RowCollector.rows.clear()
    val ms = MemoryStream[Ev]
    ms.addData(Ev(1, at(0), 1, "click", 1.0, "{}"), Ev(2, at(1), 2, "view", 2.0, "{}"))
    val q = ms.toDF().select("event_id", "event_type")
      .writeStream.outputMode("append")
      .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
        def open(partitionId: Long, epochId: Long): Boolean = true
        def process(r: org.apache.spark.sql.Row): Unit =
          RowCollector.rows.add(s"${r.getLong(0)}:${r.getString(1)}")
        def close(errorOrNull: Throwable): Unit = ()
      }).start()
    try q.processAllAvailable() finally q.stop()
    assert(RowCollector.rows.toArray.toSet == Set("1:click", "2:view"))
  }

  test("A1/A5/H8: file source -> watermarked agg -> fan-out foreachBatch sink") {
    val tmp = tempDir("graft_stream").toString
    // the file source consumes a directory of arriving files (the S3
    // landing-zone shape) — stage the events file into one
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$tmp/in/events.parquet"))
    val src = StreamingJobs.fileSource(spark, s"$tmp/in", 1)
    val agg = StreamingJobs.tumblingCounts(src)
    val q = StreamingJobs.fanOutSink(agg, s"$tmp/counters", s"$tmp/archive", s"$tmp/ckpt").start()
    // AvailableNow self-terminates after draining the source (incl. the
    // no-data batch that finalizes watermarked windows)
    assert(q.awaitTermination(180000))
    val counters = spark.read.parquet(s"$tmp/counters")
    assert(counters.count() > 0)
    val archive = spark.read.parquet(s"$tmp/archive")
    assert(archive.count() <= counters.count())
  }

  test("a fan-out micro-batch whose archive write throws releases what it pinned") {
    val tmp = tempDir("graft_fanout_throw")
    java.nio.file.Files.createDirectories(tmp.resolve("in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      tmp.resolve("in/events.parquet"))
    // a regular file where the archive's parent directory should be: the
    // counters write succeeds, the archive write cannot make its directory
    java.nio.file.Files.write(tmp.resolve("blocker"), Array[Byte](1))
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // CacheManager.numCachedEntries is package-private to Spark SQL
    val cm = spark.sharedState.cacheManager
    def entries: Any = cm.getClass.getMethod("numCachedEntries").invoke(cm)
    val (rddsBefore, entriesBefore) = (persisted, entries)
    val src = StreamingJobs.fileSource(spark, s"$tmp/in", 1)
    val q = StreamingJobs.fanOutSink(StreamingJobs.tumblingCounts(src),
      s"$tmp/counters", s"$tmp/blocker/archive", s"$tmp/ckpt").start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination(180000))
    assert(java.nio.file.Files.isDirectory(tmp.resolve("counters")),
      "the batch must fail at its second write, after the first has read the pin")
    assert(persisted -- rddsBefore == Set.empty, "the failed batch left persisted RDDs")
    assert(entries == entriesBefore, "the failed batch left a cache entry")
  }

  test("A8/I8: streaming scrub routes the batch gates' exact keep/reject verdicts") {
    import graft.operators.CurationQueries
    val sf = "/root/testdata/sf0.001"
    // Input = the documents corpus plus BOTH planted families (the four
    // gate-failure docs and the 20 PII docs), so every reject rule and
    // the redaction path are exercised — not just the happy path.
    val d = Tables.documents(spark, sf).select(col("doc_id"), col("text"), col("source"))
    // the 40-char-prefix piiPlants fail the word-count gate (that routing
    // is itself asserted below); a second family appends PII to FULL doc
    // texts so gate-passing docs exercise the accepted-side redaction
    val piiAccept = d.filter(col("doc_id").between(100, 119)).select(
      (col("doc_id") + 500000).as("doc_id"),
      concat(col("text"), lit(" contact me at user"), col("doc_id").cast("string"),
        lit("@example.com or 555-123-4567")).as("text"),
      lit("pii_accept").as("source"))
    val input = d
      .unionByName(CurationQueries.gopherPlants(spark))
      .unionByName(CurationQueries.piiPlants(d.select(col("doc_id"), col("text")))
        .withColumn("source", lit("pii_planted")))
      .unionByName(piiAccept)
    val tmp = tempDir("graft_scrub").toString
    input.repartition(3).write.parquet(s"$tmp/in") // 3 files -> 3 micro-batches
    val src = spark.readStream.schema(input.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
    val q = StreamingJobs.scrubRoute(src, s"$tmp/accept", s"$tmp/dlq", s"$tmp/ckpt").start()
    assert(q.awaitTermination(180000), "scrub stream did not finish in 180s")

    // ground truth from the SAME shared gate expressions, applied batch
    val truth = CurationQueries.piiScrub(CurationQueries.gopherSignals(input))
      .select(col("doc_id"), col("keep"), col("wc_ok"), col("ml_ok"),
        col("st_ok"), col("dg_ok"), col("redacted")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val accepted = spark.read.parquet(s"$tmp/accept")
      .select("doc_id", "text", "n_email", "n_phone").collect()
      .map(r => r.getLong(0) -> r).toMap
    val rejected = spark.read.parquet(s"$tmp/dlq")
      .select("doc_id", "wc_ok", "ml_ok", "st_ok", "dg_ok", "reasons").collect()
      .map(r => r.getLong(0) -> r).toMap
    // partition completeness: every doc routed exactly once, no overlap
    assert(accepted.keySet.intersect(rejected.keySet).isEmpty)
    assert(accepted.size + rejected.size == truth.size,
      s"${accepted.size} + ${rejected.size} != ${truth.size}")
    truth.foreach { case (id, t) =>
      if (t.getBoolean(1)) {
        val a = accepted.getOrElse(id, fail(s"doc $id should be accepted"))
        assert(a.getString(1) == t.getString(6), s"doc $id: redacted text differs")
      } else {
        val rj = rejected.getOrElse(id, fail(s"doc $id should be rejected"))
        (2 to 5).foreach(i => assert(rj.getBoolean(i - 1) == t.getBoolean(i),
          s"doc $id: rule flag $i differs"))
      }
    }
    // the archived text is actually scrubbed: no raw PII survives
    assert(spark.read.parquet(s"$tmp/accept")
      .filter(col("text").rlike("@example\\.com|555-[0-9-]+")).count() == 0)
    // non-vacuity: PII docs DID pass the gates (so the redacted-accept
    // path above compared real redactions, not just clean text)
    assert(accepted.keys.count(_ >= 400000) > 0,
      "no PII doc passed the gates — redaction path untested")
  }

  test("A8/H9: a replayed scrub micro-batch overwrites its own output, not duplicates") {
    // the batch=<id> overwrite idempotence claim, asserted the same way
    // as the upsert sink's: clone the checkpoint as a recovering driver
    // would read it, drop the newest commit record, restart — the
    // replayed batch must overwrite its own directory, leaving the
    // routed outputs identical to the single-run state.
    val sf = "/root/testdata/sf0.001"
    val d = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") < 200)
    val tmp = tempDir("graft_scrub_replay").toString
    d.repartition(2).write.parquet(s"$tmp/in")
    def start(ckpt: String) = StreamingJobs.scrubRoute(
      spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in"),
      s"$tmp/accept", s"$tmp/dlq", ckpt).start()
    val q1 = start(s"$tmp/ckpt")
    assert(q1.awaitTermination(180000), "scrub stream did not finish in 180s")
    def snap(dir: String) = spark.read.parquet(dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val (accept1, dlq1) = (snap(s"$tmp/accept"), snap(s"$tmp/dlq"))
    assert(accept1.nonEmpty && accept1.distinct == accept1)
    val src = java.nio.file.Paths.get(s"$tmp/ckpt")
    val dst = java.nio.file.Paths.get(s"$tmp/ckpt_recovered")
    java.nio.file.Files.walk(src).forEach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val newest = new java.io.File(s"$tmp/ckpt_recovered/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    assert(newest.delete())
    new java.io.File(newest.getParentFile, s".${newest.getName}.crc").delete()
    val q2 = start(s"$tmp/ckpt_recovered")
    assert(q2.awaitTermination(180000), "replayed scrub did not finish in 180s")
    assert(snap(s"$tmp/accept") == accept1,
      "replay must not duplicate or drop accepted docs")
    assert(snap(s"$tmp/dlq") == dlq1,
      "replay must not duplicate or drop dead-lettered docs")
  }
}
