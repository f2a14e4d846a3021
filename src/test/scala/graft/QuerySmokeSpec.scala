package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.graftbridge.CheckpointBridge.scope
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs at sf0.001 and yields rows; every oracle key
  * points at a registered query. (Value-level correctness is the DuckDB
  * gate — scripts/check_correctness.py — this is the fast in-JVM smoke.)
  *
  * Each query runs the way Bench and Verify run it: build plus action in
  * one materialization scope. After the scope no RDD may be persisted
  * that was not persisted before it, so a query that pins blocks outside
  * the bridge (or a bridge that fails to release them) is caught here.
  * Suites run one at a time in the forked test JVM, so the registry diff
  * is this query's alone.
  *
  * The same run records each query's plan shape (see [[PlanLedger]]),
  * and a test after the loop compares it with the committed ledger
  * `src/test/resources/plan_ledger.tsv`, so a change that adds a job, a
  * stage, an exchange or a materialization, or changes a join strategy,
  * shows up in its own diff.
  *
  * Then queries that checkpoint and truncate heavily run at once
  * in the one session, each in its own scope (ROADMAP item 3). A scope
  * releases only what its own thread pinned, so no query can release
  * another's live checkpoint: every result equals the serial run's, and
  * once all scopes have exited no block is left.
  */
class QuerySmokeSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without a query: $extra")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Every table's schema inferred before the first query: the
    * inference jobs would otherwise land in whichever query reads a table
    * first, and which one that is would depend on the suites that ran
    * before. */
  private lazy val schemasPrimed: Unit =
    Tables.all.foreach(t => Tables.schemaOf(spark, s"$sf/$t.parquet"))

  /** Ledger lines of the queries run so far, by name. */
  private val observed = mutable.SortedMap.empty[String, String]

  private lazy val committed: Map[String, String] =
    Files.readAllLines(PlanLedger.Committed, UTF_8).asScala.toSeq
      .filterNot(_ == PlanLedger.Header).map(l => l.takeWhile(_ != '\t') -> l).toMap

  /** The query's ledger line. AQE re-plans each time a query stage
    * finishes, so when concurrent stages finish in another order a query
    * can run a job or an exchange more or fewer than before. A line that
    * differs from the committed one is measured twice more and stands
    * only if neither run matches; a changed plan shape differs every
    * time. Queries that flip too often for that are
    * [[PlanLedger.Unsteady]]. */
  private def ledgerLine(name: String, fn: (SparkSession, String) => DataFrame,
      first: SparkFixture.Started): String = {
    val line = PlanLedger.line(name, first)
    if (committed.get(name).forall(_ == line)) line
    else Iterator.fill(2)(PlanLedger.line(name, started(scope(fn(spark, sf).count()))._2))
      .find(committed.get(name).contains).getOrElse(line)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      schemasPrimed
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      val (rows, shape) = started(scope(fn(spark, sf).count()))
      assert(rows > 0, s"$name returned 0 rows")
      observed(name) = ledgerLine(name, fn, shape)
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.isEmpty,
        s"$name left ${left.size} persisted RDDs after its scope: ${left.values.mkString("; ")}")
    }
  }

  test("every query's plan shape equals its line in the plan ledger") {
    Files.createDirectories(PlanLedger.Actual.getParent)
    Files.write(PlanLedger.Actual,
      (PlanLedger.Header +: observed.values.toSeq).mkString("", "\n", "\n").getBytes(UTF_8))
    val differ = (committed.keySet ++ SparkEntry.queries.keySet).toSeq.sorted.flatMap { n =>
      val (e, a) = (committed.get(n), observed.get(n))
      if (e == a) None else Some(PlanLedger.diff(n, e, a))
    }
    assert(differ.isEmpty,
      s"${differ.size} queries differ from ${PlanLedger.Committed} (expected -> actual); " +
        s"if the change is intended, copy ${PlanLedger.Actual} over it:\n" + differ.mkString("\n"))
  }

  private val concurrent = Seq("q_pagerank", "q_ktruss", "q_dedup_clusters",
    "q_dedup_recall", "q_split_safe", "q_submodular_select",
    "q_rank_overlap", "q_sql_recursive")

  /** Full-row hash: md5 over the sorted string form of every row. */
  private def rowHash(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def hashOf(name: String): String =
    scope(rowHash(SparkEntry.queries(name)(spark, sf)))

  test("eight materializing queries share one session with their serial results and no leaked blocks") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val serial = concurrent.map(n => n -> hashOf(n)).toMap
    assert(persisted -- before == Set.empty, "the serial runs leaked blocks")
    val pool = Executors.newFixedThreadPool(concurrent.size)
    val together = try {
      val futures = concurrent.map(n => n -> pool.submit(() => hashOf(n)))
      futures.map { case (n, f) => n -> f.get(10, TimeUnit.MINUTES) }.toMap
    } finally pool.shutdownNow()
    val differ = concurrent.filter(n => together(n) != serial(n))
    assert(differ.isEmpty, s"concurrent results differ from the serial run: $differ")
    assert(persisted -- before == Set.empty, "the concurrent runs leaked blocks")
  }
}

/** One tab-separated line per query: what its build plus `count()` start
  * at sf0.001 under [[SparkFixture]]'s session (local[4], 4 shuffle
  * partitions, AQE on). Jobs and stages are fixed scheduling cost per
  * query; the plan columns sum over the final physical plan of every SQL
  * execution the query runs, construction-time checkpoints included
  * (a truncation's own stages run outside any SQL execution, so they
  * count as jobs and stages but add no plan); materialized RDDs are the
  * persisted RDDs its stages read or write. */
object PlanLedger {
  val Committed = Paths.get("src/test/resources/plan_ledger.tsv")
  val Actual = Paths.get("target/plan_ledger.actual.tsv")

  private val columns = Seq("jobs", "stages", "shuffle_exchanges", "reused_exchanges",
    "sort_merge_joins", "shuffled_hash_joins", "broadcast_hash_joins", "materialized_rdds")
  val Header: String = ("query" +: columns).mkString("\t")

  /** Queries whose job, stage and shuffle-exchange counts do not repeat
    * from run to run in one session, with the reason. Their lines show
    * `~` in those three columns; the other columns are checked. */
  val Unsteady: Map[String, String] = Map(
    "q_ann_ivfpq" -> ("AQE re-plans its broadcast and window stages by the order they " +
      "finish: 13 jobs and 7 exchanges, or 11 and 5 (two runs in six)"),
    "q_bradley_terry" -> ("each round's truncation, a lazily persisted RDD, is first " +
      "computed by the next round's two join sides at once; jobs and stages vary " +
      "(81 to 84 in ten runs), the plan does not"))

  /** Plan nodes counted, by the name Spark gives them in a plan. */
  private val counted = Seq("Exchange", "ReusedExchange", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastHashJoin")

  def line(name: String, s: SparkFixture.Started): String = {
    val nodes = mutable.Map.empty[String, Int].withDefaultValue(0)
    // a reused exchange or subquery lists the plan it reuses, which ran
    // once, where it first appears; a cache scan lists the cached plan
    def walk(p: SparkPlanInfo): Unit = {
      nodes(p.nodeName) += 1
      if (!Set("ReusedExchange", "ReusedSubquery", "InMemoryTableScan")(p.nodeName))
        p.children.foreach(walk)
    }
    s.plans.foreach(walk)
    val counts = (Seq(s.jobs, s.stages) ++ counted.map(nodes) :+ s.persistedRdds.size)
      .map(_.toString)
    val shown = if (Unsteady.contains(name)) Seq.fill(3)("~") ++ counts.drop(3) else counts
    (name +: shown).mkString("\t")
  }

  /** `name: column e -> a, ...` for the columns that differ. */
  def diff(name: String, expected: Option[String], actual: Option[String]): String = {
    def cols(l: Option[String]) = l.map(_.split('\t').toSeq.tail)
    (cols(expected), cols(actual)) match {
      case (Some(e), Some(a)) =>
        columns.indices.filter(i => e.lift(i) != a.lift(i))
          .map(i => s"${columns(i)} ${e.lift(i).getOrElse("-")} -> ${a.lift(i).getOrElse("-")}")
          .mkString(s"$name: ", ", ", "")
      case (None, _) => s"$name: not in the ledger -> ${actual.get}"
      case (_, None) => s"$name: ${expected.get} -> not run"
    }
  }
}
