package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md, FIXTURES.md).
  * One parquet file per table under `$sfDir/<name>.parquet`.
  *
  * Reference semantics: these tables stand in for the reference's sources —
  * the `events` table is the Kinesis-stream stand-in (ordered event records,
  * cf. /root/reference README: AWS Lambda stream processing), the TPC-H-ish
  * star schema is the DynamoDB-lookup/enrichment side.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Session confs that change what parquet schema inference returns for
    * the same file (`nanosAsLong` is what [[events]] sets for a nanos
    * `ts`). */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** The file as inference saw it: path, length, modification time, and
    * the inference confs' values. A rewritten file or a flipped conf is a
    * new key. */
  private final case class SchemaKey(path: String, length: Long, modified: Long,
      confs: Seq[Option[String]])

  /** Inferred schemas per session. Inferring a parquet schema reads the
    * footer in a Spark job (about 100 ms and one job per read on a 4-core
    * box); a read with a given schema starts none. Every query reads its
    * tables afresh, so each table is inferred once per session and file
    * version and then read with `.schema(...)`. Weak on the session, so its
    * entries go when the session is collected. */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[SchemaKey, org.apache.spark.sql.types.StructType]]

  private[graft] def schemaOf(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    // a directory-shaped table changes when any file under it does
    val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
    val key = SchemaKey(st.getPath.toString, files.map(_.getLen).sum,
      files.map(_.getModificationTime).foldLeft(0L)(math.max),
      inferenceConfs.map(k => spark.conf.getOption(k)))
    val perSession = schemas.synchronized {
      schemas.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
    }
    perSession.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.ts` was parquet TIMESTAMP(NANOS,ntz), which Spark 4.x refuses to
    * read natively (PARQUET_TYPE_ILLEGAL). Such a file is read as long nanos
    * via the legacy conf ([[readNanosTsAsLong]]) and converted to a
    * microsecond timestamp.
    * The conversion uses integer `div`, NOT double division: nanosecond
    * epochs (~1.7e18) exceed 2^53, so a round-trip through double would
    * corrupt low-order digits. Lossless on this data (no sub-µs components).
    *
    * Round 8's regenerated testdata writes `ts` as TIMESTAMP(MICROS,ntz)
    * instead, so the conversion is now schema-adaptive (see
    * [[normalizeEventTs]]) — both encodings land on the same session-UTC
    * TimestampType column every downstream query expects.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    readNanosTsAsLong(spark, Seq(s"$sfDir/events.parquet"))
    normalizeEventTs(table(spark, sfDir, "events"))
  }

  /** Sets the session's legacy `nanosAsLong` conf when one of `paths`
    * (parquet files, or directories of them) stores `ts` as
    * TIMESTAMP(NANOS), and only then: any other encoding leaves the
    * session conf, and with it the schema cache key and every later
    * parquet read, as it was. The footers are read on the driver, which
    * starts no Spark job. */
  private[graft] def readNanosTsAsLong(spark: SparkSession, paths: Seq[String]): Unit = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val conf = spark.sparkContext.hadoopConfiguration
    def dataFile(path: String): Option[org.apache.hadoop.fs.Path] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.getFileStatus(p).isDirectory) Some(p)
      else fs.listStatus(p).map(_.getPath)
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    }
    def nanosTs(f: org.apache.hadoop.fs.Path): Boolean = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
      schema.containsField("ts") &&
        (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
    }
    if (paths.flatMap(dataFile).exists(nanosTs))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  /** Normalize an events frame's `ts` to session-UTC TimestampType across
    * the encodings the driver has shipped: long nanos (pre-r8, via the
    * nanosAsLong legacy conf), TIMESTAMP(MICROS,ntz) (r8+ — value-preserving
    * NTZ→LTZ cast under the UTC session timezone), or already-normalized
    * TimestampType (a restaged slice written by this engine).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Restore map-stage parallelism ahead of a heavy fan-out (shingle
    * explode, per-token hashing) when the source scan cannot provide it:
    * parquet scan tasks are bounded by ROW-GROUP count, and the driver's
    * tables ship as one single-row-group file per table, so every
    * scan-rooted map stage otherwise runs on ONE core no matter what
    * `minPartitionNum` says (the splits exist, but only the split holding
    * the row group's midpoint emits rows). A hash repartition on the
    * given key moves only the compact pre-fan-out rows — table-sized
    * bytes, trivial next to the fan-out work it parallelizes — and is
    * deterministic under task retry (hash of a stored column, never
    * round-robin/rand, guide §2.5). The gate keeps it out of at-scale
    * plans: a corpus with >= defaultParallelism input files already scans
    * wide (no-op), and non-scan inputs (caches/checkpoints, no
    * inputFiles) are already exchange-partitioned by whatever produced
    * them (no-op). Guide §2.5 "input skew: repartition immediately after
    * the read" + §1.2 (fix the distributed shape first).
    */
  private[graft] def scatter(df: DataFrame, key: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join,
      RepartitionOperation, Window => LWindow}
    // only narrow pipelines over a file scan qualify: anything with a
    // join/aggregate/window/explicit-repartition below already owns an
    // exchange (downstream stages are wide), and materialized inputs
    // (LogicalRDD from localCheckpoint) inherit their producer's layout —
    // a second repartition there would shuffle corpus payloads for nothing
    val alreadyWide = df.queryExecution.analyzed.find {
      case _: Join | _: Aggregate | _: RepartitionOperation | _: LWindow => true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _ => false
    }.isDefined
    val n = df.sparkSession.sparkContext.defaultParallelism
    val files = try df.inputFiles.length catch { case _: Throwable => 0 }
    if (!alreadyWide && files > 0 && files < n) df.repartition(n, col(key)) else df
  }
}
