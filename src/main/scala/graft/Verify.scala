package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.CheckpointBridge.scope
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
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
    // local-iteration subset (driver sets no env → full run)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").toSet).getOrElse(SparkEntry.queries.keySet)
    // one materialization scope per query: every block it pinned is
    // released once its output is written, so none taxes the rest
    SparkEntry.queries.filter(q => only(q._1)).foreach { case (name, fn) =>
      try scope(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => only(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // a VERIFY_ONLY subset must not overwrite the full oracle_sql.json
    // (a later full check against the dir would silently check fewer
    // queries) — subset runs write a sibling partial file instead, and a
    // full run removes any stale partial so the dir is unambiguous
    if (sys.env.contains("SPARK_GRAFT_VERIFY_ONLY")) {
      Files.writeString(Paths.get(s"$outDir/oracle_sql.partial.json"), json)
    } else {
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
      Files.deleteIfExists(Paths.get(s"$outDir/oracle_sql.partial.json"))
    }
    spark.stop()
  }
}
