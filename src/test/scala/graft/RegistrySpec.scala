package graft

import org.scalatest.funsuite.AnyFunSuite

/** Query-registry invariants that the map-based driver contract cannot
  * surface on its own.
  */
class RegistrySpec extends AnyFunSuite {

  test("query names are globally unique across modules") {
    // SparkEntry.queries is name->fn via toMap (last wins), so a duplicate
    // name silently replaces an earlier module's query instead of failing
    assert(SparkEntry.duplicateNames.isEmpty,
      s"duplicate query names shadow earlier registrations: ${SparkEntry.duplicateNames}")
  }

  test("every oracle belongs to a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  /** One way to materialize: every checkpoint and truncation in the
    * program goes through `org.apache.spark.sql.graftbridge.CheckpointBridge`,
    * which records what it pins in the caller's materialization scope and
    * releases it when the scope exits, also on a throw. A raw
    * `localCheckpoint`, `cache()` or `persist` anywhere else would pin
    * blocks no scope knows about, and a `getPersistentRDDs` diff would
    * release blocks another query's scope still needs. The scan covers
    * every source under `src/main/scala` except the bridge's own
    * package, where those calls are made.
    */
  test("the program materializes only through CheckpointBridge") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && !f.toString.contains("/graftbridge/")).toSeq
    assert(files.size > 40, s"sources not found from ${Paths.get("").toAbsolutePath}")
    val banned = Seq("getPersistentRDDs", ".localCheckpoint(", ".cache()", ".persist(")
    val hits = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${n + 1}: $b"
    assert(hits.isEmpty, s"materialization outside the bridge:\n${hits.mkString("\n")}")
  }

  /** A raw control byte in a source file makes `grep` report "binary
    * file matches" and ripgrep's directory search skip the file, so a
    * search for a definition silently misses it. Write such characters
    * as escapes (`"\u0000"`); tab, newline, vertical tab, form feed and
    * carriage return stay allowed.
    */
  test("no source file holds a raw control byte") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(Paths.get("src")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"sources not found from ${Paths.get("").toAbsolutePath}")
    val hits = for {
      f <- sources
      bytes = Files.readAllBytes(f)
      i <- bytes.indices
      b = bytes(i) & 0xff if b < 0x09 || (b >= 0x0e && b <= 0x1f)
    } yield {
      val line = bytes.iterator.take(i).count(_ == '\n') + 1
      f"$f:$line: byte 0x$b%02x"
    }
    assert(hits.isEmpty, s"raw control bytes in sources:\n${hits.mkString("\n")}")
  }
}
