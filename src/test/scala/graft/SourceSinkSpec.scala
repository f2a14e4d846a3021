package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Sources, sinks, and routing (SURVEY §2.A/B9/F2): multi-format scans
  * with explicit schemas, schema inference, routing-key repartition,
  * partition-local sort, and the time/key-partitioned archive sink.
  */
class SourceSinkSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"
  private def tmpDir() = tempDir("graft_io").toString

  test("A9: csv and json round-trip with explicit schemas") {
    val dir = tmpDir()
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "n_chars")
    docs.write.option("header", "true").csv(s"$dir/csv")
    docs.write.json(s"$dir/json")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType)))
    val fromCsv = spark.read.schema(schema).option("header", "true").csv(s"$dir/csv")
    val fromJson = spark.read.schema(schema).json(s"$dir/json")
    assert(fromCsv.count() == docs.count())
    assert(fromJson.except(docs).count() == 0)
  }

  test("A9: orc round-trip preserves rows, schema, and pushes filters") {
    val dir = tmpDir()
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "n_chars")
    docs.write.orc(s"$dir/orc")
    val fromOrc = spark.read.orc(s"$dir/orc")
    assert(fromOrc.schema == docs.schema)
    assert(fromOrc.except(docs).count() == 0 && docs.except(fromOrc).count() == 0)
    // ORC scans take pushed filters like parquet (a different reader stack)
    val filtered = fromOrc.filter(col("doc_id") < 10)
    val scan = filtered.queryExecution.sparkPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]"),
      s"no pushed filter in ORC scan:\n$scan")
    assert(filtered.count() == docs.filter(col("doc_id") < 10).count())
  }

  test("B4: json schema inference discovers the payload fields") {
    val dir = tmpDir()
    Tables.events(spark, sf).select("event_id", "props").write.json(s"$dir/j")
    val inferred = spark.read.json(s"$dir/j")
    assert(inferred.columns.sorted.toSeq == Seq("event_id", "props"))
    val sample = Tables.events(spark, sf).select("props").first().getString(0)
    val s = spark.range(1)
      .select(schema_of_json(lit(sample)).as("s")).first().getString(0)
    assert(s.contains("k"))
  }

  test("B9: routing-key repartition co-locates a key on one partition") {
    val routed = Tables.events(spark, sf).repartition(8, col("event_type"))
    val spread = routed
      .select(col("event_type"), spark_partition_id().as("p"))
      .groupBy("event_type").agg(countDistinct(col("p")).as("nparts"))
      .agg(max("nparts")).first().getLong(0)
    assert(spread == 1, "each routing key must land on exactly one partition")
  }

  test("F2: sortWithinPartitions orders per shard without a global shuffle") {
    val df = Tables.events(spark, sf)
      .repartition(4, col("user_id"))
      .sortWithinPartitions("user_id", "ts")
    val violations = df
      .select(col("user_id"), col("ts"), spark_partition_id().as("p"))
      .withColumn("prev", lag(struct(col("user_id"), col("ts")), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("p")
          .orderBy(monotonically_increasing_id())))
      .filter(col("prev").isNotNull &&
        struct(col("user_id"), col("ts")) < col("prev"))
      .count()
    assert(violations == 0)
  }

  test("A5: archive sink partitioned by time key, partition-pruned on read") {
    val dir = tmpDir()
    Tables.events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("day").parquet(s"$dir/archive")
    val oneDay = spark.read.parquet(s"$dir/archive")
      .filter(col("day") === "2024-01-05")
    assert(oneDay.count() > 0)
    // partition pruning: the filter must become a PartitionFilter on the
    // scan (directory-level skip), not a row-level Filter
    val scan = oneDay.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("2024-01-05"),
      s"expected partition filter, got: ${scan.metadata}")
  }

  test("A9: schema evolution — mergeSchema unions columns across file generations") {
    val dir = tmpDir()
    val docs = Tables.documents(spark, sf)
    docs.select("doc_id", "lang").write.parquet(s"$dir/t/gen=1")
    docs.select("doc_id", "lang", "n_chars").write.parquet(s"$dir/t/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.toSet == Set("doc_id", "lang", "n_chars", "gen"))
    assert(merged.count() == docs.count() * 2)
    // old-generation rows surface the new column as null
    assert(merged.filter(col("gen") === 1 && col("n_chars").isNull).count() == docs.count())
  }

  test("A6/H7: update output mode emits only changed counter rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = ms.toDF().groupBy("event_type").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("upd").outputMode("update").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    ms.addData(Ev(1, t0, 1, "click", 1.0, "{}"), Ev(2, t0, 1, "view", 1.0, "{}"))
    q.processAllAvailable()
    ms.addData(Ev(3, t0, 1, "click", 1.0, "{}"))
    try q.processAllAvailable() finally q.stop()
    // batch 2 touched only 'click' — update mode must not re-emit 'view'
    val emitted = spark.table("upd").groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(emitted == Map("click" -> 2L, "view" -> 1L))
  }

  test("A2/H9: checkpointed query resumes from committed offsets, no reprocessing") {
    val dir = tmpDir()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    def addFile(n: Int): Unit =
      Tables.events(spark, sf).limit(100).withColumn("batch", lit(n))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/in/f$n")
    addFile(1)
    val schema = Tables.events(spark, sf).withColumn("batch", lit(1)).schema
    def start() = spark.readStream.schema(schema).parquet(s"$dir/in/*")
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .start()
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val n1 = spark.read.parquet(s"$dir/out").count()
    addFile(2)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val n2 = spark.read.parquet(s"$dir/out").count()
    assert(n1 == 100 && n2 == 200, s"expected exactly-once resume, got $n1 then $n2")
  }
}
