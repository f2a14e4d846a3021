package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.CheckpointBridge.scope

/** Dev-only: write `explain("formatted")` for a comma-separated list of
  * queries to `<outDir>/<query>_<tag>.txt` — the before/after plan
  * artifacts the optimization rounds commit under plans/.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <q1,q2,...> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      try scope {
        val df = SparkEntry.queries(n)(spark, sfDir)
        // a tag starting with "exec" executes THIS frame's own
        // QueryExecution (a noop write or count() would plan a fresh one
        // and leave this one isFinalPlan=false) and dumps the FINAL
        // adaptive plan — runtime join strategy and stage reuse visible
        if (tag.startsWith("exec"))
          df.queryExecution.toRdd.count()
        // queryExecution.explainString: same text explain("formatted") prints
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $n")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
