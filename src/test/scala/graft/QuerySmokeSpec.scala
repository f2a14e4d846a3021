package graft

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
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
  * Then queries that checkpoint, truncate and cache heavily run at once
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

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      assert(scope(fn(spark, sf).count()) > 0, s"$name returned 0 rows")
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.isEmpty,
        s"$name left ${left.size} persisted RDDs after its scope: ${left.values.mkString("; ")}")
    }
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
