package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.concurrent.Eventually.{eventually, timeout}
import org.scalatest.time.{Seconds, Span}

/** One shared local session per suite (lazy, reused across suites in the
  * same JVM via getOrCreate), and temp directories that go when the suite
  * ends.
  */
trait SparkFixture extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // RocksDB state store for ALL stateful streaming tests — the provider
    // you'd run at scale (bounded heap, changelog checkpointing), so specs
    // exercise the production configuration, not the default in-memory one
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the checkpoint file manager every graft stream registers, so specs
    // that build their own streams (the A6/A8 crash and replay cases
    // edit the commit log directly) run on it too
    .config(streaming.ForkFreeCheckpointFileManager.ConfKey,
      classOf[streaming.ForkFreeCheckpointFileManager].getName)
    .getOrCreate()

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the system temp dir; it and everything
    * written into it are deleted when the suite ends. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => if (Files.exists(d))
      Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p)))
    finally super.afterAll()

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = started(body)._2.jobs

  /** Runs `body` under a job group of its own and returns its result with
    * what it started, attributed by that group (which Spark hands on to
    * broadcast and subquery threads). A marker job runs after it under
    * another group; the listener bus delivers events in order, so once
    * the marker is seen every event of `body` has been seen too. */
  def started[T](body: => T): (T, SparkFixture.Started) = {
    val sc = spark.sparkContext
    val group = s"fixture-${SparkFixture.groups.incrementAndGet()}"
    val marker = s"$group-marker"
    val l = new SparkFixture.Recorder(Set(group, marker))
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "body under test")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) {
        assert(l.synchronized(l.jobs(marker)) > 0)
      }
      (result, l.synchronized(l.of(group)))
    } finally sc.removeSparkListener(l)
  }
}

object SparkFixture {
  private val groups = new AtomicLong

  /** What one job group started.
    *
    * @param jobs Spark jobs
    * @param stages stages submitted (skipped stages are not)
    * @param persistedRdds ids of the persisted RDDs those stages read or
    *   wrote (checkpoints, truncations, caches)
    * @param plans the final physical plan of every SQL execution the
    *   group ran: under AQE the last plan AQE reported, which for a
    *   finished execution is its final plan
    */
  final case class Started(jobs: Int, stages: Int, persistedRdds: Set[Int],
      plans: Seq[SparkPlanInfo])

  /** Collects the listener events of the given job groups. */
  private final class Recorder(groupsOf: Set[String]) extends SparkListener {
    val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val stages = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val rdds = mutable.Map.empty[String, Set[Int]].withDefaultValue(Set.empty)
    private val running = mutable.Map.empty[Long, (String, SparkPlanInfo)]
    private val plans = mutable.Map.empty[String, Vector[SparkPlanInfo]].withDefaultValue(Vector.empty)

    private def groupOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).filter(groupsOf)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      groupOf(e.properties).foreach(g => jobs(g) += 1)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      groupOf(e.properties).foreach { g =>
        stages(g) += 1
        rdds(g) ++= e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.filter(groupsOf).foreach(g => running(s.executionId) = (g, s.sparkPlanInfo))
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          running.get(u.executionId).foreach { case (g, _) => running(u.executionId) = (g, u.sparkPlanInfo) }
        case end: SparkListenerSQLExecutionEnd =>
          running.remove(end.executionId).foreach { case (g, p) => plans(g) :+= p }
        case _ =>
      }
    }

    def of(g: String): Started = Started(jobs(g), stages(g), rdds(g), plans(g))
  }
}
