package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import graft.streaming.{ForkFreeCheckpointFileManager, ForkFreeLocalFileSystem, StreamingJobs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The local disk under a second scheme name: a non-`file` path that
  * resolves through `FileContext` without any network.
  */
class OtherSchemeFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "graftother", false)

/** [[ForkFreeCheckpointFileManager]]: Spark's checkpoint-file contract on
  * `file:` paths, Hadoop's modes and `.crc` files, delegation for other
  * schemes, and checkpoints that resume across a manager change.
  */
class CheckpointManagerSpec extends AnyFunSuite with SparkFixture {

  private def names(dir: java.nio.file.Path): Set[String] =
    dir.toFile.listFiles().map(_.getName).toSet

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def manager(dir: java.nio.file.Path, conf: Configuration = new Configuration()) =
    new ForkFreeCheckpointFileManager(new Path(dir.toUri), conf)

  test("file: paths use Spark's FileSystem-based manager") {
    assert(manager(tempDir("graft_cfm0")).delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("createAtomic + close publishes the file and its Hadoop .crc, and nothing else") {
    val dir = tempDir("graft_cfm1")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.toUri.toString, "0"), overwriteIfPossible = false)
    out.write("v1\n{}".getBytes("UTF-8"))
    assert(!names(dir).contains("0"), "nothing is published before close")
    out.close()
    assert(names(dir) == Set("0", ".0.crc"))
    val in = fm.open(new Path(dir.toUri.toString, "0"))
    try assert(new String(in.readAllBytes(), "UTF-8") == "v1\n{}") finally in.close()
  }

  test("cancel() leaves neither the final file nor the temp file") {
    val dir = tempDir("graft_cfm2")
    val out = manager(dir).createAtomic(new Path(dir.toUri.toString, "1"), overwriteIfPossible = false)
    out.write(Array[Byte](1, 2, 3))
    assert(names(dir).nonEmpty, "the temp file exists while writing")
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("overwriteIfPossible = false on an existing path throws FileAlreadyExistsException") {
    val dir = tempDir("graft_cfm3")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "2")
    val first = fm.createAtomic(p, overwriteIfPossible = false)
    first.write(Array[Byte](1)); first.close()
    val second = fm.createAtomic(p, overwriteIfPossible = false)
    second.write(Array[Byte](2))
    intercept[FileAlreadyExistsException](second.close())
    val in = fm.open(p)
    try assert(in.read() == 1, "the first write stays") finally in.close()
    val third = fm.createAtomic(p, overwriteIfPossible = true)
    third.write(Array[Byte](3)); third.close()
    val in3 = fm.open(p)
    try assert(in3.read() == 3) finally in3.close()
  }

  test("file and directory modes equal the stock LocalFileSystem's under the same umask") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val stock = new LocalFileSystem()
      stock.initialize(URI.create("file:///"), conf)
      val ours = new ForkFreeLocalFileSystem()
      ours.initialize(URI.create("file:///"), conf)
      val (a, b) = (tempDir("graft_cfm4a"), tempDir("graft_cfm4b"))
      // the manager's create and mkdirs against the stock filesystem's
      val fm = manager(a, conf)
      val out = fm.createAtomic(new Path(a.toUri.toString, "f"), overwriteIfPossible = false)
      out.write(Array[Byte](1)); out.close()
      fm.mkdirs(new Path(a.toUri.toString, "d/e"))
      stock.create(new Path(b.toUri.toString, "f"), false).close()
      stock.mkdirs(new Path(b.toUri.toString, "d/e"))
      for (rel <- Seq("f", ".f.crc", "d", "d/e"))
        assert(mode(a.resolve(rel)) == mode(b.resolve(rel)), s"umask $umask, $rel")
      // an explicit mode, sticky bit included, is set exactly as chmod sets it
      for (m <- Seq("1777", "0750", "0604")) {
        val perm = FsPermission.createImmutable(Integer.parseInt(m, 8).toShort)
        ours.setPermission(new Path(a.toUri.toString, "d/e"), perm)
        stock.setPermission(new Path(b.toUri.toString, "d/e"), perm)
        assert(mode(a.resolve("d/e")) == Integer.parseInt(m, 8))
        assert(mode(a.resolve("d/e")) == mode(b.resolve("d/e")), s"mode $m")
      }
    }
  }

  test("a non-file path is handed to Spark's default manager") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.graftother.impl", classOf[OtherSchemeFs].getName)
    conf.set(ForkFreeCheckpointFileManager.ConfKey,
      classOf[ForkFreeCheckpointFileManager].getName)
    val p = new Path("graftother:///tmp/graft_cfm5")
    val fm = CheckpointFileManager.create(p, conf)
    assert(fm.isInstanceOf[ForkFreeCheckpointFileManager])
    val delegate = fm.asInstanceOf[ForkFreeCheckpointFileManager].delegate
    assert(delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
    conf.unset(ForkFreeCheckpointFileManager.ConfKey)
    assert(delegate.getClass == CheckpointFileManager.create(p, conf).getClass)
  }

  test("fileSource -> tumblingCounts resumes across a checkpoint-manager change, both ways") {
    val key = ForkFreeCheckpointFileManager.ConfKey
    val providerKey = SQLConf.STATE_STORE_PROVIDER_CLASS.key
    val savedProvider = spark.conf.get(providerKey)
    val tmp = tempDir("graft_cfm_restart")
    // 4,000 events, one every 3 s of event time (3.3 hours, so four
    // hourly windows per event type), in four time-ordered slices: every
    // slice lies past the watermark the previous ones set, so no row is
    // dropped late
    val events = spark.range(4000).select(
      col("id").as("event_id"),
      expr("timestamp_ntz'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, id * 3)").as("ts"),
      pmod(hash(col("id") * 7), lit(100)).cast("long").as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("cart"), lit("buy"), lit("share")),
        (pmod(hash(col("id")), lit(5)) + 1).cast("int")).as("event_type"),
      (pmod(hash(col("id") * 13), lit(1000)) / 10.0).as("value"),
      lit("{}").as("props"))
    for (k <- 1 to 4) {
      events.filter(col("event_id") >= (k - 1) * 1000 && col("event_id") < k * 1000)
        .coalesce(1).write.parquet(s"$tmp/stage/$k")
    }
    def land(in: String, k: Int): Unit = {
      val part = new java.io.File(s"$tmp/stage/$k").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(in))
      Files.copy(part.toPath, Paths.get(in, s"slice-$k.parquet"))
    }
    val batch = StreamingJobs.tumblingCounts(
      Tables.normalizeEventTs(spark.read.parquet(s"$tmp/stage/*")))
      .collect().map(r => (r.get(0), r.get(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(batch.size == 20) // 4 hourly windows x 5 event types
    // counts exactly; sums up to the order of floating-point addition,
    // which differs between one batch and four micro-batches
    def sameWindows(got: Map[(Any, Any), (Long, Double)]): Boolean =
      got.keySet == batch.keySet && got.forall { case (k, (n, s)) =>
        val (bn, bs) = batch(k)
        n == bn && math.abs(s - bs) <= 1e-9 * math.max(1.0, math.abs(bs))
      }

    // one run: drain what has landed, under Spark's default manager or ours
    def run(in: String, ckpt: String, forkFree: Boolean,
        seen: TrieMap[(Any, Any), (Long, Double)]): Unit = {
      val counts = StreamingJobs.tumblingCounts(StreamingJobs.fileSource(spark, in, 1))
      if (!forkFree) spark.conf.unset(key)
      val q = try {
        counts.writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.collect().foreach(r =>
              seen((r.get(0), r.get(1))) = (r.getLong(2), r.getDouble(3)))
          }
          .start()
      } finally spark.conf.set(key, classOf[ForkFreeCheckpointFileManager].getName)
      assert(q.awaitTermination(180000), "stream did not finish in 180 s")
      assert(q.exception.isEmpty)
    }

    try {
      for (provider <- Seq(
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider");
          firstForkFree <- Seq(false, true)) {
        spark.conf.set(providerKey, provider)
        val name = s"${provider.split('.').last}-$firstForkFree"
        val (in, ckpt) = (s"$tmp/$name/in", s"$tmp/$name/ckpt")
        val seen = TrieMap.empty[(Any, Any), (Long, Double)]
        land(in, 1); land(in, 2)
        run(in, ckpt, firstForkFree, seen)
        land(in, 3); land(in, 4)
        run(in, ckpt, !firstForkFree, seen)
        assert(sameWindows(seen.toMap), name)
      }
    } finally spark.conf.set(providerKey, savedProvider)
  }
}
