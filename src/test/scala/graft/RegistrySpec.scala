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

  /** One way to materialize: every checkpoint, truncation and cache in
    * the query operators and the two runners goes through
    * `org.apache.spark.sql.graftbridge.CheckpointBridge`, which records
    * what it pins in the caller's materialization scope and releases it.
    * A raw `localCheckpoint`, `cache()` or `persist` here would pin
    * blocks no scope knows about, and a `getPersistentRDDs` diff would
    * release blocks another query's scope still needs. Out of scope, on
    * purpose: the per-micro-batch `persist`/`unpersist` pairs inside the
    * `foreachBatch` bodies of `graft.streaming.StreamingJobs`, and the
    * self-contained merge loop of `graft.functions.Bpe`, which each
    * release what they pin before returning.
    */
  test("the operators and runners materialize only through CheckpointBridge") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val operators = Files.list(Paths.get("src/main/scala/graft/operators")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val files: Seq[Path] = operators ++
      Seq("Bench.scala", "Verify.scala").map(f => Paths.get("src/main/scala/graft", f))
    assert(operators.size > 10, s"operator sources not found from ${Paths.get("").toAbsolutePath}")
    val banned = Seq("getPersistentRDDs", ".localCheckpoint(", ".cache()", ".persist(")
    val hits = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${f.getFileName}:${n + 1}: $b"
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
