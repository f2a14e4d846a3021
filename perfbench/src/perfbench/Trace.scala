package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one interval at one layer boundary. Times are epoch
  * microseconds; `req` is the request id shared by every span of one query
  * or one stream trigger. */
final case class Span(id: Int, parent: Int, layer: String, name: String, req: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Task-level totals for one stage, summed from task-end events. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shufWrite = 0L; var shufRead = 0L; var spill = 0L
  var shufRecordsWritten = 0L; var shufRecordsRead = 0L
  var inBytes = 0L; var inRecords = 0L
}

final case class JobRec(id: Int, start: Long, end: Long, spanProp: Option[Int], stages: Seq[Int])
final case class StageRec(id: Int, start: Long, end: Long, cachedRdds: Seq[Int])

/** In-memory trace of one run, recorded from the benchmark's own calls and
  * from Spark's public listener APIs. Nothing is recorded inside the
  * program under test. Listener events arrive asynchronously, so spans are
  * attributed by time and by the `perfbench.span` local property only at
  * the end of the run, by [[attributeJobs]] and [[attributeTriggers]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val origin = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = origin + System.nanoTime() / 1000L

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobStart = mutable.Map.empty[Int, (Long, Option[Int], Seq[Int])]
  val stages = mutable.Map.empty[Int, StageRec]
  val stageAgg = mutable.Map.empty[Int, StageAgg]
  /** (phase name, start µs, duration ms) from each executed plan's tracker. */
  val catalyst = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** (µs, compile ms) per generated class, from CodeGenerator's log line. */
  val codegen = mutable.ArrayBuffer.empty[(Long, Double)]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  @volatile private var events = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
      jobStart(e.jobId) = (e.time * 1000L, prop, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobStart.remove(e.jobId).foreach { case (s, p, st) => jobs += JobRec(e.jobId, s, e.time * 1000L, p, st) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages(i.stageId) = StageRec(i.stageId, s * 1000L, c * 1000L,
          i.rddInfos.filter(_.storageLevel.isValid).map(_.id).toSeq)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.shufRecordsWritten += m.shuffleWriteMetrics.recordsWritten
        a.shufRecordsRead += m.shuffleReadMetrics.recordsRead
        a.spill += m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead; a.inRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lock {
      qe.tracker.phases.foreach { case (n, p) => catalyst += ((n, p.startTimeMs * 1000L, p.durationMs)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock { progress += e }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val codegenAppender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m.startsWith(CodegenPrefix)) {
        val ms = m.stripPrefix(CodegenPrefix).takeWhile(c => c.isDigit || c == '.')
        if (ms.nonEmpty) lock { codegen += ((e.getTimeMillis * 1000L, ms.toDouble)) }
      }
    }
  }
  codegenAppender.start()
  // the code generator's logger feeds only this appender (not additive),
  // so its INFO lines stay out of the run's log while a run is traced
  private val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val codegenLog = new LoggerConfig(CodegenLogger, Level.WARN, false)
  codegenLog.addAppender(codegenAppender, Level.INFO, null)
  logCtx.getConfiguration.addLogger(CodegenLogger, codegenLog)
  logCtx.updateLoggers()

  private var attached = false

  /** Turns the listeners on or off; a run alternates traced and untraced
    * operations to measure the tracing overhead. The listener bus is
    * drained first, so a traced operation's events all reach the tracer. */
  def attach(on: Boolean): Unit = if (on != attached) {
    drain()
    attached = on
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
      Configurator.setLevel(CodegenLogger, Level.INFO)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
      Configurator.setLevel(CodegenLogger, Level.WARN)
    }
  }

  private def lock[T](body: => T): T = synchronized { events += 1; body }

  def add(parent: Int, layer: String, name: String, req: String, start: Long, end: Long): Int =
    synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, parent, layer, name, req, start, end)
      id
    }

  private val opened = mutable.Map.empty[Int, Span]

  /** Opens a span whose end is filled in by [[close]]. */
  def open(parent: Int, layer: String, name: String, req: String): Int = synchronized {
    val id = nextId; nextId += 1
    opened(id) = Span(id, parent, layer, name, req, nowUs, -1L)
    id
  }
  def close(id: Int): Unit = synchronized { spans += opened.remove(id).get.copy(end = nowUs) }

  /** Runs `body` inside a driver span; Spark jobs it starts carry the span
    * id as a local property. */
  def span[T](parent: Int, layer: String, name: String, req: String)(body: Int => T): T = {
    val id = open(parent, layer, name, req)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    try body(id) finally { sc.setLocalProperty(SpanProp, outer); close(id) }
  }

  /** Waits until the listener bus has delivered every event (no new event
    * for 300 ms, at most 10 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1L
    while (events != last && System.nanoTime() < deadline) { last = events; Thread.sleep(300) }
  }

  def snapshot: Seq[Span] = synchronized(spans.toList)

  /** Adds job and stage spans under the driver span that caused them: by
    * local property when the job carries one and starts inside that span,
    * else the innermost span open at the job's start. (A streaming query's
    * thread inherits the local properties of the call that started it.)
    * Children are clamped to their parent. */
  def attributeJobs(): Seq[(JobRec, Span)] = synchronized {
    val closed = spans.toList
    def innermost(t: Long): Option[Span] =
      closed.filter(s => jobParent(s.layer) && s.start <= t && t < s.end).sortBy(-_.start).headOption
    val byId = closed.map(s => s.id -> s).toMap
    jobs.sortBy(_.start).toList.flatMap { j =>
      // job times have millisecond resolution
      val parent = j.spanProp.flatMap(byId.get).filter(p => p.start - 1000 <= j.start && j.start <= p.end)
        .orElse(innermost(j.start))
      parent.map { p =>
        val (s, e) = clamp(j.start, j.end, p)
        val jid = add(p.id, "job", s"job ${j.id}", p.req, s, e)
        j.stages.flatMap(stages.get).foreach { st =>
          val (ss, se) = clamp(st.start, st.end, Span(0, 0, "", "", "", s, e))
          add(jid, "stage", s"stage ${st.id}", p.req, ss, se)
        }
        (j, p)
      }
    }
  }

  /** Adds one span per stream trigger, under the span `parentAt` picks
    * for its start time, with its `durationMs` phases laid out in
    * execution order as children. */
  def attributeTriggers(parentAt: Long => Int): Unit = synchronized {
    progress.map(_.progress).sortBy(_.batchId).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val end = start + d.getOrElse("triggerExecution", 0L) * 1000L
      val req = s"trigger ${p.batchId}"
      val tid = add(parentAt(start), "trigger", req, req, start, end)
      var t = start
      TriggerPhases.foreach { ph =>
        d.get(ph).filter(_ > 0).foreach { ms =>
          val e = math.min(end, t + ms * 1000L)
          if (e > t) add(tid, s"phase.$ph", ph, req, t, e)
          t = e
        }
      }
    }
  }

  private def clamp(s: Long, e: Long, p: Span): (Long, Long) = {
    val cs = math.min(math.max(s, p.start), p.end)
    (cs, math.max(cs, math.min(e, p.end)))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  val CodegenPrefix = "Code generated in "
  /** Layers a Spark job can belong to when it carries no span property. */
  def jobParent(layer: String): Boolean =
    layer.startsWith("phase.") || Set("build", "action", "lookup", "query", "trigger", "drain", "pass",
      "window")(layer)
  val TriggerPhases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Self time per layer under `root`: every instant of the root's interval
    * goes to the deepest spans open at that instant, split evenly when
    * sibling spans overlap (concurrent jobs), so the self times sum to the
    * root's wall time exactly. Returns (layer -> self µs, root wall µs). */
  def selfTimes(all: Seq[Span], root: Int): (Map[String, Long], Long) = {
    val kids = all.groupBy(_.parent)
    val tree = mutable.ArrayBuffer.empty[Span]
    def walk(s: Span): Unit = { tree += s; kids.getOrElse(s.id, Nil).filter(_.end > s.start).foreach(walk) }
    val r = all.find(_.id == root).get
    walk(r)
    val byId = tree.map(s => s.id -> s).toMap
    val bounds: Seq[Long] = tree.toSeq.flatMap(s => Seq(math.max(s.start, r.start), math.min(s.end, r.end)))
      .filter(t => t >= r.start && t <= r.end).distinct.sorted
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val starts = tree.sortBy(_.start)
    bounds.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val open = starts.iterator.takeWhile(_.start <= a).filter(_.end > a).toSeq
        val openIds = open.map(_.id).toSet
        val parents = open.flatMap(s => byId.get(s.parent)).filter(p => openIds(p.id)).map(_.id).toSet
        val leaves = open.filterNot(s => parents(s.id))
        leaves.foreach(s => self(s.layer) += (b - a).toDouble / leaves.size)
      case _ =>
    }
    (self.map { case (k, v) => k -> math.round(v) }.toMap, r.dur)
  }
}
