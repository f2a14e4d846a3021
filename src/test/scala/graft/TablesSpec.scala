package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

/** `Tables.table` infers each parquet schema once per session, file
  * version and inference conf, then reads with that schema. The tables
  * (the sf0.01 copy committed with the benchmark) are copied to a fresh
  * directory first, so no earlier read in this JVM has filled the cache
  * for them.
  */
class TablesSpec extends AnyFunSuite with SparkFixture {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private lazy val dir: Path = {
    val d = tempDir("tables-spec")
    Tables.all.foreach { t =>
      Files.copy(java.nio.file.Paths.get(s"perfbench/data/sf0.01/$t.parquet"),
        d.resolve(s"$t.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
      d.resolve(s"$t.parquet").toFile.setWritable(true)
    }
    d
  }

  test("each table's cached schema equals a fresh inference, and a second read starts no job") {
    val d = dir.toString
    for (t <- Tables.all) {
      val first = jobsDuring(Tables.table(spark, d, t))
      assert(first >= 1, s"$t: the first read infers its schema in a Spark job")
      val path = s"$d/$t.parquet"
      assert(Tables.schemaOf(spark, path) == spark.read.parquet(path).schema, t)
      assert(Tables.table(spark, d, t).schema == spark.read.parquet(path).schema, t)
      assert(jobsDuring(Tables.table(spark, d, t)) == 0, s"$t: the second read starts no job")
    }
  }

  test("a rewritten table file is inferred again") {
    import spark.implicits._
    val d = tempDir("tables-spec-rewrite")
    val out = d.resolve("t.parquet").toString
    Seq((1L, "a")).toDF("k", "s").write.parquet(out)
    assert(Tables.table(spark, d.toString, "t").columns.toSeq == Seq("k", "s"))
    assert(jobsDuring(Tables.table(spark, d.toString, "t")) == 0)
    Seq((1L, "a", 2.0)).toDF("k", "s", "x").write.mode("overwrite").parquet(out)
    val again = Tables.table(spark, d.toString, "t")
    assert(again.columns.toSeq == Seq("k", "s", "x"))
    assert(again.as[(Long, String, Double)].collect().toSeq == Seq((1L, "a", 2.0)))
  }

  test("events read with and without nanosAsLong gets its own cache entry") {
    // its own copy: the first test has cached the shared one under
    // whatever setting the session had then
    val own = tempDir("tables-spec-events")
    Files.copy(dir.resolve("events.parquet"), own.resolve("events.parquet"))
    val d = own.toString
    val before = spark.conf.getOption(NanosAsLong)
    try {
      for (v <- Seq("false", "true")) {
        spark.conf.set(NanosAsLong, v)
        val path = s"$d/events.parquet"
        assert(jobsDuring(Tables.table(spark, d, "events")) >= 1, s"nanosAsLong=$v: inferred")
        assert(jobsDuring(Tables.table(spark, d, "events")) == 0, s"nanosAsLong=$v: cached")
        assert(Tables.schemaOf(spark, path) == spark.read.parquet(path).schema)
      }
      // back to the first setting: its entry is still there
      spark.conf.set(NanosAsLong, "false")
      assert(jobsDuring(Tables.table(spark, d, "events")) == 0)
    } finally setOrUnset(NanosAsLong, before)
  }

  test("an events read leaves the session conf alone, so no table is inferred twice") {
    val own = tempDir("tables-spec-conf")
    Seq("orders", "events").foreach(t =>
      Files.copy(dir.resolve(s"$t.parquet"), own.resolve(s"$t.parquet")))
    val d = own.toString
    val before = spark.conf.getOption(NanosAsLong)
    // a session that has not asked for nanos-as-long reads
    spark.conf.unset(NanosAsLong)
    try {
      val conf = spark.conf.getAll
      assert(jobsDuring(Tables.table(spark, d, "orders")) >= 1, "the first read infers")
      assert(Tables.events(spark, d).count() > 0)
      val changed = spark.conf.getAll.toSet diff conf.toSet
      assert(changed.isEmpty, s"the events read changed the session conf: $changed")
      assert(jobsDuring(Tables.table(spark, d, "orders")) == 0,
        "orders was inferred again after the events read")
    } finally setOrUnset(NanosAsLong, before)
  }

  test("an events file storing ts as TIMESTAMP(NANOS) is read as microseconds through nanosAsLong") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import spark.implicits._
    // Spark cannot write nanosecond timestamps; parquet's own writer can
    val own = tempDir("tables-spec-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(own.resolve("events.parquet").toString)).withType(schema).build()
    val ns = 1700000000123456000L
    try w.write(new SimpleGroupFactory(schema).newGroup().append("event_id", 1L).append("ts", ns))
    finally w.close()
    val before = spark.conf.getOption(NanosAsLong)
    spark.conf.unset(NanosAsLong)
    try {
      val micros = Tables.events(spark, own.toString).selectExpr("unix_micros(ts)").as[Long].head()
      assert(micros == ns / 1000)
      assert(spark.conf.getOption(NanosAsLong).contains("true"))
    } finally setOrUnset(NanosAsLong, before)
  }

  private def setOrUnset(key: String, value: Option[String]): Unit =
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
}
