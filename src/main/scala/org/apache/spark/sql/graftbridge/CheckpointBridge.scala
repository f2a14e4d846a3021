package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.classic
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.{ColumnBridge => CB}

/** Bridge for an eager localCheckpoint that KEEPS a hash-partitioning
  * claim. Under AQE, `Dataset.localCheckpoint` wraps the materialized RDD
  * in a LogicalRDD whose outputPartitioning is unknown (the adaptive
  * plan's partitioning is not visible at checkpoint time), so every
  * downstream operator keyed the same way re-shuffles data that is
  * ALREADY laid out correctly — for an iterative job that joins a large
  * checkpointed table per round, that is one full-table exchange per
  * round for nothing (guide §2.4). The bridge repartitions by the keys
  * itself and re-declares exactly that partitioning on the flat
  * LogicalRDD leaf (lineage stays truncated, so the per-round Catalyst
  * re-analysis cost stays flat — the NOTES #13 constraint that rules out
  * plain `.cache()` for loop-invariant tables).
  */
object CheckpointBridge {

  /** Plan-level lineage truncation with LAZY, deadlock-free
    * materialization (r18): returns a LogicalRDD leaf over the frame's
    * RDD, `persist`ed so every consumer computes each partition once —
    * the multi-consumer reuse of a lazy `localCheckpoint(false)` WITHOUT
    * its RDD-checkpoint machinery. That machinery is the problem:
    * `RDD.doCheckpoint` runs at the end of EVERY job that touched the
    * marked RDD, takes the GLOBAL `RDDCheckpointData` class lock, then
    * the RDD's monitor — while the DAG scheduler resolving the same
    * RDD's partitions takes them in the OPPOSITE order. With a lazy
    * checkpoint whose first consumer is a broadcast-exchange thread
    * (the HITS normalizer shape) the two race and the driver deadlocks
    * (observed: jstack "Found one Java-level deadlock",
    * dag-scheduler-event-loop vs broadcast-exchange-44, r18 session).
    * Plain `persist` has per-block get-or-compute locking only — no
    * global lock, no job-end hook — and keeps recomputability if blocks
    * are evicted. Catalyst truncation is identical (LogicalRDD leaf via
    * the same `fromDataset` Dataset.checkpoint uses, stats preserved);
    * AQE still materializes the frame's shuffle stages at CREATION time
    * (inside `toRdd`), so only the final stage is deferred into the
    * first consumer's job. Callers release the blocks through the same
    * getPersistentRDDs snapshot hygiene as checkpoints.
    */
  def lazyTruncate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val cdf = df.asInstanceOf[classic.DataFrame]
    val rdd = cdf.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    classic.Dataset.ofRows(session,
      LogicalRDD.fromDataset(rdd, cdf, isStreaming = false))
  }

  /** Eagerly localCheckpoints `df` hash-repartitioned by `keys` and
    * returns a frame whose leaf declares HashPartitioning(keys, n): a
    * downstream join or aggregation clustered by `keys` (or a superset)
    * adds no exchange on this side. The claim is true by construction:
    * the repartition runs inside this call, immediately before the
    * checkpoint.
    *
    * n is the session's `numShufflePartitions` (under AQE the
    * `coalescePartitions.initialPartitionNum` when that is set), passed
    * explicitly. It is the count every exchange EnsureRequirements adds
    * starts from, so the other side of a join is shuffled to exactly n
    * and the declared side stays in place. A repartition by keys alone
    * lets AQE coalesce it (to 1 partition on small inputs); a declared
    * count below the other side's exchange count makes EnsureRequirements
    * re-shuffle the declared leaf to match (NOTES fact #27), the very
    * exchange this bridge exists to remove. AQE never coalesces a
    * repartition by number, so the count declared is the count written.
    */
  def localCheckpointPartitionedBy(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val n = session.sessionState.conf.numShufflePartitions
    val ck = df.repartition(n, keys.map(df.col): _*).localCheckpoint(true)
      .asInstanceOf[classic.DataFrame]
    val attrs = ck.queryExecution.analyzed.output
    val keyAttrs = keys.map(k => attrs.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"no column $k in ${attrs.map(_.name)}")))
    val rdd = ck.queryExecution.toRdd
    require(rdd.getNumPartitions == n,
      s"checkpoint has ${rdd.getNumPartitions} partitions, declared $n")
    val part = HashPartitioning(keyAttrs, n)
    classic.Dataset.ofRows(session,
      LogicalRDD(attrs, rdd, part, Nil, isStreaming = false, None)(
        session, None, None))
  }
}
