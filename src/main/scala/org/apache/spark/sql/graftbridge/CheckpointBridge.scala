package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** The one place an intermediate is materialized, and the one rule that
  * releases it.
  *
  * Three ways to pin a frame's blocks: [[checkpoint]] (eager local
  * checkpoint, lineage cut), `checkpoint(df, keys)` (the same, with a
  * declared hash partitioning) and [[truncate]] (plan-level cut, lazily
  * persisted: the one way to let several consumers read a frame that is
  * computed once; its RDD form pins an RDD that several jobs read). Each
  * records what it pins in the calling thread's innermost [[scope]];
  * outside any scope nothing is recorded and the caller owns the blocks.
  *
  * The rule: when a scope exits, normally or by a throw, it releases
  * every pin it recorded except those REACHABLE from the frames it
  * returns, and hands those to the enclosing scope. Reachable means
  * through the `LogicalRDD` leaves of the frame's analyzed plan and then
  * RDD dependencies. Reachability, not the order of creation, decides:
  * a released local checkpoint cannot be recomputed, so a pin a
  * returned frame still reads must survive however early it was made,
  * and a pin behind a later checkpoint (whose lineage is cut) is dead
  * however late. A scope releases only what it recorded, never a block
  * another thread's scope pinned, so queries can share a session.
  * (NOTES fact #28.)
  */
object CheckpointBridge {

  /** One materialization: the RDD ids a plan leaf refers to it by, and
    * how to give its blocks back. */
  private final class Pin(val rddIds: Set[Int], val release: () => Unit)

  /** The pins of the calling thread's innermost scope, or null. Only
    * that thread touches them. Deliberately not inheritable (as a
    * DynamicVariable is): threads Spark's pools start while a scope is
    * open (broadcast exchanges, query-stage creation) would inherit it,
    * record into it after it has exited, and keep its pins' plans and
    * RDDs reachable for as long as they live. */
  private val current = new ThreadLocal[mutable.ArrayBuffer[Pin]]

  private def record(pin: Pin): Unit = Option(current.get).foreach(_ += pin)

  /** Runs `body` as one materialization scope (see the object doc):
    * pins `body` records that its result cannot reach are released on
    * exit, the rest pass to the enclosing scope. The result's frames are
    * found in a Dataset, or inside tuples, Options and collections. */
  def scope[T](body: => T): T = {
    val outer = current.get
    val pins = mutable.ArrayBuffer.empty[Pin]
    current.set(pins)
    var result: Option[T] = None
    try {
      result = Some(body)
      result.get
    } finally {
      current.set(outer)
      val live = result.fold((_: Pin) => false)(r => reachable(frames(r)))
      val (kept, dropped) = pins.partition(live)
      dropped.foreach(_.release())
      Option(outer).foreach(_ ++= kept)
    }
  }

  /** Releases, now, the current scope's pins that `df` itself stands on:
    * the checkpoints and truncations at its plan's leaves — not what
    * those were built from. For a loop that no longer reads its previous
    * round, or a function done with a truncation before its scope ends. */
  def release(df: Dataset[_]): Unit = Option(current.get).foreach { pins =>
    val leaves = qe(df).analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd.id }.toSet
    val (mine, rest) = pins.partition(_.rddIds.exists(leaves))
    pins.clear(); pins ++= rest
    mine.foreach(_.release())
  }

  /** Gives an RDD's blocks back through `SparkContext.unpersistRDD`.
    * `RDD.unpersist` does the same but first warns, for every locally
    * checkpointed RDD, that it cannot be recomputed; a pin is released
    * only once nothing reads it (a scope's rule, or a caller's
    * [[release]]), so that is true every time and the warning says
    * nothing. */
  private def unpersisting(rdd: RDD[_]): () => Unit =
    () => rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Eager local checkpoint: the frame is computed now and its lineage
    * cut, so later plans over it stay one leaf deep (NOTES #13). */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val ck = capped(ds.localCheckpoint(true))
    val rdd = leafRdd(ck)
    record(new Pin(Set(rdd.id), unpersisting(rdd)))
    ck
  }

  /** Eager local checkpoint of `df` hash-repartitioned by `keys`, whose
    * leaf declares HashPartitioning(keys, n): a downstream join or
    * aggregation clustered by `keys` (or a superset) adds no exchange on
    * this side. Under AQE a plain checkpoint's leaf has unknown
    * partitioning, so an iterative job joining a large checkpointed
    * table per round would re-shuffle it every round (guide §2.4). The
    * claim is true by construction: the repartition runs inside this
    * call, immediately before the checkpoint.
    *
    * n is the session's `numShufflePartitions` (under AQE the
    * `coalescePartitions.initialPartitionNum` when that is set), passed
    * explicitly. It is the count every exchange EnsureRequirements adds
    * starts from, so the other side of a join is shuffled to exactly n
    * and the declared side stays in place. A repartition by keys alone
    * lets AQE coalesce it (to 1 partition on small inputs); a declared
    * count below the other side's exchange count makes EnsureRequirements
    * re-shuffle the declared leaf to match (NOTES fact #27), the very
    * exchange this exists to remove. AQE never coalesces a repartition
    * by number, so the count declared is the count written.
    */
  def checkpoint(df: DataFrame, keys: Seq[String]): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val n = shufflePartitions(session)
    val ck = df.repartition(n, keys.map(df.col): _*).localCheckpoint(true)
      .asInstanceOf[classic.DataFrame]
    val pinned = leafRdd(ck)
    val attrs = ck.queryExecution.analyzed.output
    val keyAttrs = keys.map(k => attrs.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"no column $k in ${attrs.map(_.name)}")))
    val rdd = ck.queryExecution.toRdd
    require(rdd.getNumPartitions == n,
      s"checkpoint has ${rdd.getNumPartitions} partitions, declared $n")
    record(new Pin(Set(pinned.id, rdd.id), unpersisting(pinned)))
    classic.Dataset.ofRows(session,
      LogicalRDD(attrs, rdd, HashPartitioning(keyAttrs, n), Nil, isStreaming = false, None)(
        session, None, None))
  }

  /** The partition count `checkpoint(df, keys)` declares: the session's
    * `numShufflePartitions` (under AQE the
    * `coalescePartitions.initialPartitionNum` when that is set). */
  def shufflePartitions(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.numShufflePartitions

  /** The partition, of `n`, that `checkpoint(df, Seq(k))` and
    * `df.repartition(n, col(k))` put a row with bigint key `k` in: Spark's
    * own `HashPartitioning(k, n).partitionIdExpression`,
    * pmod(murmur3(k, seed 42), n), evaluated on the JVM. Code that routes
    * values by hand to the partition such a frame keeps them in (the
    * PageRank kernel) routes through this, so the declaration and the
    * routing share one definition. The function reuses one row: one per
    * thread. */
  def keyPartitioner(n: Int): Long => Int = {
    val pid = HashPartitioning(Seq(BoundReference(0, LongType, nullable = false)), n)
      .partitionIdExpression
    val row = new GenericInternalRow(1)
    k => { row.setLong(0, k); pid.eval(row).asInstanceOf[Int] }
  }

  /** Plan-level lineage truncation with LAZY, deadlock-free
    * materialization: a LogicalRDD leaf over the frame's RDD, persisted
    * so every consumer computes each partition once — the multi-consumer
    * reuse of a lazy `localCheckpoint(false)` WITHOUT its RDD-checkpoint
    * machinery. That machinery is the problem: `RDD.doCheckpoint` runs
    * at the end of EVERY job that touched the marked RDD, takes the
    * GLOBAL `RDDCheckpointData` class lock, then the RDD's monitor —
    * while the DAG scheduler resolving the same RDD's partitions takes
    * them in the OPPOSITE order. With a lazy checkpoint whose first
    * consumer is a broadcast-exchange thread (the HITS normalizer shape)
    * the two race and the driver deadlocks (observed: jstack "Found one
    * Java-level deadlock", dag-scheduler-event-loop vs
    * broadcast-exchange-44). Plain `persist` has per-block
    * get-or-compute locking only — no global lock, no job-end hook — and
    * keeps recomputability if blocks are evicted. Catalyst truncation is
    * identical (LogicalRDD leaf via the same `fromDataset`
    * Dataset.checkpoint uses, stats preserved); AQE still materializes
    * the frame's shuffle stages at CREATION time (inside `toRdd`), so
    * only the final stage is deferred into the first consumer's job.
    * The lineage stays whole, so whatever the truncated frame was built
    * from stays reachable through it (and is kept by a scope returning
    * it). The result keeps `ds`'s encoder.
    */
  def truncate[T](ds: Dataset[T]): Dataset[T] = {
    val cds = ds.asInstanceOf[classic.Dataset[T]]
    val rdd = truncate(cds.queryExecution.toRdd.map(_.copy()))
    capped(new classic.Dataset[T](cds.sparkSession,
      LogicalRDD.fromDataset(rdd, cds, isStreaming = false), cds.encoder))
  }

  /** The RDD `df`'s physical plan computes, planned inside a SQL
    * execution of its own (under AQE its shuffle stages run there), so
    * listeners such as the plan ledger see its exchanges and joins as they
    * see an action's. Its iterators reuse one row: read it or copy it. */
  def internalRows(df: DataFrame): RDD[InternalRow] = {
    val q = qe(df)
    SQLExecution.withNewExecutionId(q, Some("internalRows"))(q.toRdd)
  }

  /** The RDD form of [[truncate]]: `rdd` persisted (MEMORY_AND_DISK), so
    * every job that reads it computes each partition once, and pinned in
    * the current scope. A frame built over it reaches it through RDD
    * dependencies, so the release rule needs nothing new. */
  def truncate[T](rdd: RDD[T]): RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    record(new Pin(Set(rdd.id), unpersisting(rdd)))
    rdd
  }

  /** `ds` with its `LogicalRDD` leaf's size estimate capped at
    * `Long.MaxValue`. A checkpoint or truncation leaf keeps the estimate
    * of the plan it was made from, and without CBO a join's estimate is
    * the product of its sides'. A loop that pins a join over its previous
    * pin therefore multiplies the estimate's digit count every round:
    * twelve rounds of the connected-components loop made it a
    * 250-million-bit BigInt and spent three minutes in Catalyst's size
    * estimation. An estimate above `Long.MaxValue` (Spark's size for
    * "unknown") already means too big for any size threshold, so the cap
    * changes no plan choice; it only bounds the arithmetic. (NOTES fact
    * #30.)
    */
  private def capped[T](ds: Dataset[T]): Dataset[T] = {
    val cds = ds.asInstanceOf[classic.Dataset[T]]
    cds.queryExecution.analyzed match {
      case l: LogicalRDD if l.stats.sizeInBytes > Long.MaxValue =>
        val leaf = l.copy()(cds.sparkSession,
          Some(l.stats.copy(sizeInBytes = Long.MaxValue)), Some(l.constraints))
        new classic.Dataset[T](cds.sparkSession, leaf, cds.encoder)
      case _ => ds
    }
  }

  /** Postfix forms of the three materializations, for method chains. */
  implicit class Materializing[T](private val ds: Dataset[T]) extends AnyVal {
    def checkpointed: Dataset[T] = checkpoint(ds)
    def checkpointedBy(keys: String*): DataFrame = checkpoint(ds.toDF(), keys)
    def truncated: Dataset[T] = truncate(ds)
  }

  private def qe(df: Dataset[_]) = df.asInstanceOf[classic.Dataset[_]].queryExecution

  private def leafRdd(ck: Dataset[_]): RDD[_] = qe(ck).analyzed match {
    case l: LogicalRDD => l.rdd
    case p => throw new IllegalStateException(s"checkpoint leaf is not a LogicalRDD: $p")
  }

  /** Frames in a scope's result. */
  private def frames(v: Any): Seq[Dataset[_]] = v match {
    case d: Dataset[_] => Seq(d)
    case xs: IterableOnce[_] => xs.iterator.flatMap(frames).toSeq
    case p: Product => p.productIterator.flatMap(frames).toSeq
    case _ => Nil
  }

  /** Whether frames `fs` can still read a pin: through their plan
    * leaves, then RDD dependencies. */
  private def reachable(fs: Seq[Dataset[_]]): Pin => Boolean = {
    val rdds = mutable.Set.empty[Int]
    def rdd(r: RDD[_]): Unit =
      if (rdds.add(r.id)) r.dependencies.foreach(d => rdd(d.rdd))
    fs.foreach(f => qe(f).analyzed.foreachWithSubqueries {
      case l: LogicalRDD => rdd(l.rdd)
      case _ =>
    })
    p => p.rddIds.exists(rdds)
  }
}
