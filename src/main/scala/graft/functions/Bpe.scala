package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge.{release, scope, Materializing}

/** Distributed BPE (byte-pair encoding) merge learning — the token-
  * vocabulary step of a training-data pipeline, as an iterative Spark job:
  * each round is a distributed adjacent-pair count over the (compressed)
  * word-frequency table, a one-row argmax fetch, and a distributed rewrite.
  * Deterministic: pair ties break lexicographically.
  *
  * Scale shape: the working set is DISTINCT words × frequency (vocabulary-
  * sized, not corpus-sized) — at 100 TB the corpus collapses to a word
  * table first, so each round's shuffle is tiny relative to the data.
  */
object Bpe {

  case class WordSyms(syms: Seq[String], n: Long)
  case class Merge(rank: Int, left: String, right: String)

  /** Greedy left-to-right non-overlapping merge of one adjacent pair. */
  private[graft] def mergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else {
        out += syms(i); i += 1
      }
    }
    out.result()
  }

  /** Distinct-word frequency table split to characters + end-of-word mark. */
  def wordTable(docs: DataFrame, textCol: String = "text")(implicit spark: SparkSession): Dataset[WordSyms] = {
    import spark.implicits._
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .as[(String, Long)]
      // split by code point, not UTF-16 char — surrogate pairs (emoji,
      // rare CJK) must stay whole symbols in the BPE alphabet
      .map { case (w, n) =>
        val cps = w.codePoints().toArray.map(Character.toString).toSeq
        WordSyms(cps :+ "</w>", n)
      }
      // the vocabulary table is tiny relative to the corpus — keep the
      // per-iteration jobs from fanning out over empty partitions
      .coalesce(4)
  }

  /** Learn `numMerges` merges. One tiny (single-row) driver fetch per
    * round — the argmax — everything else stays distributed. One
    * materialization scope: each round's table is a truncation, the
    * previous round's is released once the next is filled, and the last
    * is released on return (or on a throw).
    */
  def learnMerges(words0: Dataset[WordSyms], numMerges: Int): Seq[Merge] = scope {
    val spark = words0.sparkSession
    import spark.implicits._
    var words = words0.truncated
    val merges = Seq.newBuilder[Merge]
    var done = false
    for (rank <- 0 until numMerges if !done) {
      // pair counting stays in Tungsten (explode + hash agg on columnar
      // rows) rather than typed flatMap/groupByKey, which would
      // deserialize every WordSyms to a JVM object per round
      val best = words.toDF()
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))")).as("p"),
          col("n"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        merges += Merge(rank, l, r)
        val prev = words
        words = prev.map(w => w.copy(syms = mergeOnce(w.syms, l, r))).truncated
        words.count() // materialize before releasing the parent
        release(prev)
      }
    }
    merges.result()
  }
}
