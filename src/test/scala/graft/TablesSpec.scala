package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** `Tables.table` infers each parquet schema once per session, file
  * version and inference conf, then reads with that schema. The tables
  * (the sf0.01 copy committed with the benchmark) are copied to a fresh
  * directory first, so no earlier read in this JVM has filled the cache
  * for them.
  */
class TablesSpec extends AnyFunSuite with SparkFixture with BeforeAndAfterAll with Eventually {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private lazy val dir: Path = {
    val d = Files.createTempDirectory("tables-spec")
    Tables.all.foreach { t =>
      Files.copy(java.nio.file.Paths.get(s"perfbench/data/sf0.01/$t.parquet"),
        d.resolve(s"$t.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
      d.resolve(s"$t.parquet").toFile.setWritable(true)
    }
    d
  }

  private def deleteTree(root: Path): Unit =
    Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))

  override def afterAll(): Unit = {
    deleteTree(dir)
    super.afterAll()
  }

  /** Spark jobs started while `body` runs. A marker job runs after it;
    * the listener bus delivers job starts in order, so once the marker is
    * seen every job of `body` has been seen too. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("tables-spec-body", "reads under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-spec-marker", "marker")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) {
        assert(groups.asScala.exists(_ == "tables-spec-marker"))
      }
      groups.asScala.count(_ == "tables-spec-body")
    } finally sc.removeSparkListener(l)
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
    val d = Files.createTempDirectory("tables-spec-rewrite")
    val out = d.resolve("t.parquet").toString
    try {
      Seq((1L, "a")).toDF("k", "s").write.parquet(out)
      assert(Tables.table(spark, d.toString, "t").columns.toSeq == Seq("k", "s"))
      assert(jobsDuring(Tables.table(spark, d.toString, "t")) == 0)
      Seq((1L, "a", 2.0)).toDF("k", "s", "x").write.mode("overwrite").parquet(out)
      val again = Tables.table(spark, d.toString, "t")
      assert(again.columns.toSeq == Seq("k", "s", "x"))
      assert(again.as[(Long, String, Double)].collect().toSeq == Seq((1L, "a", 2.0)))
    } finally deleteTree(d)
  }

  test("events read with and without nanosAsLong gets its own cache entry") {
    // its own copy: the first test has cached the shared one under
    // whatever setting the session had then
    val own = Files.createTempDirectory("tables-spec-events")
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
    } finally {
      before match {
        case Some(v) => spark.conf.set(NanosAsLong, v)
        case None => spark.conf.unset(NanosAsLong)
      }
      deleteTree(own)
    }
  }
}
