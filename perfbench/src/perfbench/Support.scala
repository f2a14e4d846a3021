package perfbench

import java.io.File

/** Committed expected outputs of the batch mix (`perfbench/golden.json`):
  * row count and order-insensitive full-row hash per query. */
object Golden {
  final case class Expected(rows: Long, hash: String)

  private var cache: Option[(String, Map[String, Expected])] = None

  def expected(path: String, name: String): Expected = synchronized {
    if (!cache.exists(_._1 == path)) {
      val qs = Main.read(path)("queries").asInstanceOf[Map[String, Map[String, Any]]]
      cache = Some(path -> qs.map { case (n, m) =>
        n -> Expected(m("rows").toString.toLong, m("hash").toString) })
    }
    cache.get._2.getOrElse(name, throw new NoSuchElementException(s"no golden output for $name in $path"))
  }

  def write(path: String, scale: String, qs: Map[String, (Long, String)]): Unit =
    Main.write(path, Map("scale" -> scale, "queries" ->
      scala.collection.immutable.TreeMap(qs.toSeq: _*).map { case (n, (r, h)) =>
        n -> Map("rows" -> r, "hash" -> h) }))
}

/** Writes a run's spans, and each layer's self time under the run span, to
  * `trace-<workload>-s<seed>.json` beside the run record. */
object TraceFile {
  def write(c: Main.Conf, spans: Seq[Span], root: Int): String = {
    val (self, wallUs) = Tracer.selfTimes(spans, root)
    val path = new File(new File(c.out).getParentFile, s"trace-${c.workload}-s${c.seed}.json").getPath
    Main.write(path, Map(
      "workload" -> c.workload, "seed" -> c.seed,
      "wall_s" -> wallUs / 1e6,
      "self_s" -> self.map { case (k, v) => k -> v / 1e6 },
      "self_sum_minus_wall_us" -> (self.values.sum - wallUs),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "req" -> s.req, "start_us" -> s.start, "end_us" -> s.end))))
    path
  }
}
