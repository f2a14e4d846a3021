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

/** The claims `CheckpointBridge` makes. The partitioned checkpoint
  * `checkpoint(df, keys)`, and what it buys an iterative loop: the
  * frame's leaf declares HashPartitioning(keys, n) with n the session's
  * shuffle-partition count, every row really sits in that partition, and
  * a consuming plan adds no exchange over the declared leaf; and
  * `keyPartitioner` names the partition Spark's hash repartition puts a
  * key in, the alignment the PageRank kernel's routing relies on. And the
  * release rule of `scope`: on exit, normal or thrown, a scope releases
  * the pins it recorded that its result cannot reach, and hands the rest
  * to the enclosing scope.
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
        val ck = CheckpointBridge.checkpoint(df, keys)
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

  test("keyPartitioner names the partition repartition(n, col(k)) puts each bigint key in") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val keys = (Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++ (1L to 200L) ++
      Seq.fill(400)(rnd.nextLong())).toDF("k")
    for (n <- Seq(1, 4, 7); aqe <- Seq("true", "false")) withConf(Aqe -> Some(aqe)) {
      val owner = CheckpointBridge.keyPartitioner(n)
      val placed = keys.repartition(n, col("k")).select(spark_partition_id(), col("k")).collect()
      assert(placed.length == 604)
      val off = placed.filter(r => owner(r.getLong(1)) != r.getInt(0))
      assert(off.isEmpty, s"n=$n aqe=$aqe: ${off.length} keys outside the named partition, " +
        off.take(5).mkString(", "))
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
        val ranks = CheckpointBridge.scope {
          val (declared, deg, n, ranks0) = DataFramePageRank.inputs(edges)
          val step = DataFramePageRank.step(declared, deg, n, _: org.apache.spark.sql.DataFrame)
          CheckpointBridge.checkpoint(step(step(ranks0)))
        }
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

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a scope keeps only what its result reaches, and passes that to the enclosing scope") {
    import spark.implicits._
    import CheckpointBridge._
    val base = (0L until 50L).toDF("x")
    val before = persisted
    val (kept, innerLeft) = scope {
      val (out, left) = {
        val r = scope {
          val a = base.filter($"x" % 2 === 0).checkpointed
          val lazyOverA = a.select(($"x" + 1).as("y"))
          val b = lazyOverA.checkpointed // lineage cut: a is not reachable from b
          val t = b.truncated // persisted, lineage whole: b stays reachable through t
          val c = base.truncated
          assert(c.count() == 50)
          t.select($"y")
        }
        (r, persisted -- before)
      }
      // b and t survive (t's lineage reaches b); a and c are gone
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == (1L until 50L by 2).toSeq)
      (out.count(), left)
    }
    assert(kept == 25)
    assert(innerLeft.size == 2, s"inner scope left $innerLeft, want b and t only")
    assert(persisted -- before == Set.empty, "the outer scope returned no frame, so it releases all")
  }

  test("a scope releases every pin it recorded when its body throws") {
    import spark.implicits._
    import CheckpointBridge._
    val before = persisted
    intercept[IllegalStateException] {
      scope {
        val a = (0L until 10L).toDF("x").checkpointed
        a.select($"x").truncated.count()
        (0L until 10L).toDF("z").checkpointedBy("z").count()
        throw new IllegalStateException("boom")
      }
    }
    assert(persisted -- before == Set.empty)
  }

  test("release drops a frame's own pin now, not what it was built from") {
    import spark.implicits._
    import CheckpointBridge._
    val before = persisted
    scope {
      val a = (0L until 10L).toDF("x").checkpointed
      val b = a.filter($"x" > 4).checkpointed
      val c = a.filter($"x" < 3).checkpointedBy("x")
      val d = a.select(($"x" * 2).as("y")).truncated
      assert(d.count() == 10)
      release(b)
      release(c)
      release(d) // the truncation only: a, which d was built from, stays
      assert((persisted -- before).size == 1, "only a's checkpoint is left")
      assert(a.count() == 10)
    }
    assert(persisted -- before == Set.empty)
  }

  test("a truncation keeps its encoder, so a typed frame stays typed") {
    import spark.implicits._
    import CheckpointBridge._
    scope {
      val t: org.apache.spark.sql.Dataset[(Long, String)] =
        Seq((2L, "b"), (1L, "a")).toDS().truncated
      assert(t.map(_._1 * 10).collect().sorted.toSeq == Seq(10L, 20L))
    }
  }

  test("a thread started inside a scope does not record into it") {
    import spark.implicits._
    import CheckpointBridge._
    val before = persisted
    var child: org.apache.spark.sql.DataFrame = null
    scope {
      val t = new Thread(() => child = (0L until 5L).toDF("x").checkpointed)
      t.start(); t.join()
    }
    // not the scope's pin: a pool thread started inside a scope outlives
    // it, and must neither record into it nor keep its pins reachable
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    try {
      assert(left.size == 1)
      assert(child.count() == 5)
    } finally left.values.foreach(_.unpersist(blocking = true))
  }
}
