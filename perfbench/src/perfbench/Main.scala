package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, expr, lit, sum}

/** One benchmark run in one JVM, launched by `perfbench/run.py`: set up and
  * warm the workload, measure it for `--seconds`, check its outputs and
  * write one JSON record to `--out`. An exception during set-up or warm-up
  * ends the JVM with a non-zero exit code and no record.
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, golden: String, cores: Int, mode: String)

  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"), kv("golden"), kv("cores").toInt,
      kv.getOrElse("mode", "bench"))
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("session started")
    val record = try c.workload match {
      case "batch_iterative" => BatchWorkload.run(spark, c)
      case "stream_ingest" => StreamWorkload.run(spark, c)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    val config = Map(
      "cores" -> c.cores,
      "local" -> s"local[${c.cores}]",
      "shuffle_partitions" -> c.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / Mb)
    write(c.out, record + ("config" -> config))
  }

  val Mb: Double = 1024.0 * 1024.0

  /** A progress line in the run's log, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%7.2f s $msg")

  def write(path: String, value: Any): Unit = {
    val tmp = new File(path + ".tmp")
    Files.write(tmp.toPath, Json.writerWithDefaultPrettyPrinter().writeValueAsBytes(value))
    Files.move(tmp.toPath, new File(path).toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def read(path: String): Map[String, Any] =
    Json.readValue(new String(Files.readAllBytes(new File(path).toPath), UTF_8), classOf[Map[String, Any]])

  /** A metric as recorded: its value and the number of samples behind it.
    * `run.py` gives it its unit from BENCHMARK.json. */
  def metric(value: Double, n: Int): Map[String, Any] = Map("value" -> value, "n" -> n)

  /** Order-insensitive hash of every row: the count, and the sum and xor of
    * xxhash64 over each row rendered as JSON. */
  def rowHash(df: DataFrame): (Long, String) = {
    val r = df.select(expr("xxhash64(to_json(struct(*)))").as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h"))).head()
    (r.getLong(0), s"${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}")
  }
}

object Stats {
  /** Quantile with linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.ceil(h).toInt) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Relative change from the first half of a series to its second half,
    * by medians; positive means the later samples are slower. */
  def trend(xs: Seq[Double]): Double =
    if (xs.size < 2) 0.0
    else {
      val (a, b) = xs.splitAt(xs.size / 2)
      (median(b) - median(a)) / median(xs)
    }
}

/** JVM heap and GC readings from the platform MXBeans. A sampler thread
  * keeps the peak of heap in use; [[retainedMb]] reads the live set. */
final class JvmProbe {
  private val mem = ManagementFactory.getMemoryMXBean
  @volatile private var peak = 0L
  @volatile private var running = true
  private def used: Long = mem.getHeapMemoryUsage.getUsed
  private val sampler = new Thread(() => {
    while (running) { peak = math.max(peak, used); Thread.sleep(20) }
  }, "perfbench-heap-sampler")
  sampler.setDaemon(true)
  sampler.start()

  def resetPeak(): Unit = peak = used
  def peakMb: Double = peak / Main.Mb
  /** Seconds the JIT compilers have worked since JVM start, summed over
    * their threads. */
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  /** Heap in use after a full collection: the least of three readings,
    * 100 ms apart. Between them Spark's context cleaner drops the blocks of
    * broadcasts and RDDs a collection found unreachable, and the least
    * reading leaves out what running threads allocated meanwhile. */
  def retainedMb: Double = (1 to 3).map { _ =>
    System.gc()
    val mb = used / Main.Mb
    Thread.sleep(100)
    mb
  }.min
  /** Heap in use right after a full collection. */
  def liveMb: Double = { System.gc(); used / Main.Mb }
  def stop(): Unit = { running = false; sampler.join() }

  /** Milliseconds from JVM start to now: the set-up clock. */
  def sinceStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
