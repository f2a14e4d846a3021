package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** The claim `CheckpointBridge.localCheckpointPartitionedBy` makes, and
  * what it buys an iterative loop: the frame's leaf declares
  * HashPartitioning(keys, n) with n the session's shuffle-partition count,
  * every row really sits in that partition, and a consuming plan adds no
  * exchange over the declared leaf.
  */
class CheckpointBridgeSpec extends AnyFunSuite with SparkFixture
    with AdaptiveSparkPlanHelper with Eventually {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val InitialNum = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** Runs `body` with the given session confs (None = unset), then
    * restores what was there before. */
  private def withConf[T](kvs: (String, Option[String])*)(body: => T): T = {
    def put(k: String, v: Option[String]): Unit = v match {
      case Some(x) => spark.conf.set(k, x)
      case None => spark.conf.unset(k)
    }
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => put(k, v) }
    try body finally old.foreach { case (k, v) => put(k, v) }
  }

  test("every row of a partitioned checkpoint sits in pmod(murmur3(keys), numShufflePartitions)") {
    import spark.implicits._
    val df = (0L until 600L).map(i => (i % 41, i % 3, i)).toDF("k", "j", "v")
    // the fixture's spark.sql.shuffle.partitions is 4; under AQE an
    // initialPartitionNum, when set, is the count exchanges start from
    for ((initial, n) <- Seq(None -> 4, Some("7") -> 7);
         keys <- Seq(Seq("k"), Seq("k", "j")))
      withConf(Aqe -> Some("true"), InitialNum -> initial) {
        val ck = CheckpointBridge.localCheckpointPartitionedBy(df, keys)
        val declared = ck.queryExecution.analyzed.collectLeaves().collect {
          case l: LogicalRDD => l.outputPartitioning
        }
        assert(declared.size == 1)
        declared.head match {
          case HashPartitioning(exprs, num) =>
            assert(num == n, s"declared $num partitions, want $n (initial=$initial)")
            assert(exprs.collect { case a: Attribute => a.name } == keys)
          case p => fail(s"declared $p, want HashPartitioning")
        }
        assert(ck.rdd.getNumPartitions == n)
        val misplaced = ck
          .filter(spark_partition_id() =!= pmod(hash(keys.map(col): _*), lit(n)))
          .count()
        assert(misplaced == 0, s"$misplaced rows outside their declared partition (keys=$keys)")
        assert(ck.count() == 600)
      }
  }

  /** Exchanges that repartition a declared checkpoint leaf directly: the
    * leaf is reached from the exchange through single-child operators
    * only (a join or union in between means the exchange moves something
    * else). */
  private def reshuffledLeaves(plan: SparkPlan): Seq[Exchange] = {
    def declaredBelow(p: SparkPlan): Boolean = p match {
      case s: RDDScanExec => s.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => p.children match {
        case Seq(c) => declaredBelow(c)
        case _ => false
      }
    }
    collect(plan) { case x: Exchange if declaredBelow(x.child) => x }
  }

  test("two PageRank rounds under AQE re-shuffle neither declared checkpoint") {
    import spark.implicits._
    // symmetric ring with chords: every node is both a src and a dst
    val nodes = 60L
    val edges = (0L until nodes).flatMap { i =>
      Seq(i -> (i + 1) % nodes, (i + 1) % nodes -> i, i -> (i + 7) % nodes, (i + 7) % nodes -> i)
    }.toDF("src", "dst")
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    withConf(Aqe -> Some("true"), InitialNum -> None) {
      spark.listenerManager.register(listener)
      val loop = try {
        val ranks = operators.GraphQueries.pageRank(edges, 2)
        assert(ranks.count() == nodes)
        // the only execution with joins is the final checkpoint, which
        // runs both rounds; listener calls arrive on the listener bus
        def rounds = seen.asScala.filter(qe =>
          find(qe.executedPlan)(_.isInstanceOf[ShuffledHashJoinExec]).isDefined)
        eventually(timeout(Span(30, Seconds))) { assert(rounds.nonEmpty) }
        rounds.last.executedPlan
      } finally spark.listenerManager.unregister(listener)
      val joins = collect(loop) { case j: ShuffledHashJoinExec => j }
      assert(joins.size == 4, s"two rounds, two joins each:\n$loop")
      val bad = reshuffledLeaves(loop)
      assert(bad.isEmpty,
        s"exchanges over a declared checkpoint leaf:\n${bad.mkString("\n")}\nplan:\n$loop")
    }
  }
}
