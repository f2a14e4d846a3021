package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per suite (lazy, reused across suites in the
  * same JVM via getOrCreate).
  */
trait SparkFixture {
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
}
